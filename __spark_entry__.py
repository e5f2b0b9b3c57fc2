"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``   — flagship: the full KG-construction pipeline on
  the deterministic fixture corpus → emitted (subj, pred, obj,
  obj_is_literal) triples.
- ``queries()``      — one entry per implemented operator from
  SURVEY.md §2 plus the training-data-pipeline operators (corpus
  curation, multimodal plumbing).
- ``oracle_sql()``   — DuckDB-runnable ANSI SQL per query. KG fixture
  queries embed the (seeded, deterministic) fixture as VALUES CTEs;
  testdata queries run on the pre-registered parquet views.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from tabular_data_semantics_py_spark import entry_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG pipeline → canonical triples (driver checks rows>0)."""
    return entry_queries.flagship(spark)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(entry_queries.QUERIES)


def oracle_sql() -> dict[str, str]:
    return entry_queries.oracle_sql_strings()
