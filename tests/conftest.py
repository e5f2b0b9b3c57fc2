import sys
import time
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


def jobs_started(spark, group: str, fn) -> int:
    """The number of Spark jobs ``fn()`` starts on this thread."""
    sc = spark.sparkContext
    prev = {k: sc.getLocalProperty(k)
            for k in ("spark.jobGroup.id", "spark.job.description",
                      "spark.job.interruptOnCancel")}
    try:
        sc.setJobGroup(group, group)
        fn()
        # a marker job: the status tracker sees jobs in start order,
        # so once the marker shows, every job fn started shows too
        sc.setJobGroup(group + "-marker", "marker")
        spark.range(1).collect()
        tracker = sc.statusTracker()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(group + "-marker"):
            assert time.monotonic() < deadline, "marker job never seen"
            time.sleep(0.05)
        return len(tracker.getJobIdsForGroup(group))
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
