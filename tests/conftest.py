import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tabular_data_semantics_py_spark.fixtures.generator import make_corpus  # noqa: E402
from tabular_data_semantics_py_spark.fixtures.oracle import build_gold  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from tabular_data_semantics_py_spark.session import get_spark

    s = get_spark(app_name="tds-tests", master="local[8]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus():
    return make_corpus()


@pytest.fixture(scope="session")
def gold(corpus):
    return build_gold(corpus)


@pytest.fixture(scope="session")
def dfs(spark, corpus):
    from tabular_data_semantics_py_spark.sources.repo_source import (
        corpus_to_dataframes,
    )

    return corpus_to_dataframes(spark, corpus)


@pytest.fixture(scope="session")
def pipeline(spark, dfs):
    from tabular_data_semantics_py_spark.plans.pipeline import run_pipeline

    return run_pipeline(spark, dfs)


def pr(emitted: set, expected: set) -> tuple[float, float]:
    inter = len(emitted & expected)
    p = inter / len(emitted) if emitted else 1.0
    r = inter / len(expected) if expected else 1.0
    return p, r
