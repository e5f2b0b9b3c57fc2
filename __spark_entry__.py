"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``   — flagship: the full KG-construction pipeline on
  the deterministic fixture corpus → emitted (subj, pred, obj,
  obj_is_literal) triples.
- ``queries()``      — the 14 ``kg_*`` queries, each running or reading
  a stage of the KG-construction job (SURVEY.md §2), all over the
  fixture corpus (the ``sf_dir`` argument is ignored).
- ``oracle_sql()``   — DuckDB-runnable ANSI SQL per query, embedding
  the (seeded, deterministic) fixture as VALUES CTEs, so DuckDB needs
  no tables.

Every query runs on the session it is given, with that session's
settings: the job changes no conf of a caller's session
(``session.job_session`` holds the settings the job is measured on).
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
