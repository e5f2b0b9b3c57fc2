"""Bucketed lexical-index persistence (SURVEY.md §4.2 scale story).

At the 10^8-10^9-entity target the lexical index (``build_index_keys``
output: one row per normalized surface form) is the big, slowly-
changing dimension every pipeline run equi-joins against. Persisting
it as a table **bucketed on key_norm** moves that join's index-side
shuffle to write time: Spark records the hash-partitioning in the
table metadata, the scan reports ``outputPartitioning =
HashPartitioning(key_norm, n)``, and the exact-match candidates join
plans with NO Exchange above the index scan — only the (much smaller)
distinct-mention side shuffles into the bucket layout. The corpus
changes every run; the index does not — so the one-time bucketing
write is amortized across every subsequent pipeline run.

Evidence: ``docs/explain_bucketed_index.txt`` (committed via
``scripts/capture_explain_bucketed.py``) shows the join plan with a
single Exchange (mention side) and ``Bucketed: true`` on the index
scan; ``tests/test_bucketed_index.py`` asserts both properties plus
result equality with the unbucketed join.

Reference parity note: the reference's lookup index is a remote
service keyed by surface form (kg/lookup.py:162-209); bucketing is
the Spark-native realization of "the index is pre-partitioned by
key".
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed_index(
    index_keys: DataFrame,
    table: str = "tds_index_keys",
    n_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Persist ``build_index_keys`` output bucketed (and per-bucket
    sorted) on ``key_norm``. ``path`` makes it an external table
    (tests use a tmpdir); bucket count should match the production
    shuffle width so the mention side shuffles straight into the
    bucket layout."""
    spark = index_keys.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = (
        index_keys.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "key_norm")
        .sortBy("key_norm")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def exact_match_bucketed(
    spark: SparkSession, mentions: DataFrame, table: str = "tds_index_keys"
) -> DataFrame:
    """The exact-match half of candidate generation (see
    ``generate_candidates``) against the bucketed index table: same
    output as the inline ``mentions ⋈ index_keys`` join, but the index
    side scans shuffle-free."""
    idx = spark.table(table)
    return (
        mentions.join(idx, mentions.mention_norm == idx.key_norm)
        .select("mention_norm", "uri", F.lit(1.0).alias("score"))
    )


def demo_entity_index(spark: SparkSession, n: int = 200) -> DataFrame:
    """The synthetic entity-index slice that both the committed
    evidence artifact (scripts/capture_explain_bucketed.py →
    docs/explain_bucketed_index.txt) and the guarding test
    (tests/test_bucketed_index.py) build the bucketed table from —
    shared so the artifact always demonstrates exactly what the test
    asserts. Handed to the JVM as an Arrow table (a Python row list
    would be unpickled by a Python worker)."""
    schema = pa.schema([
        ("uri", pa.string()), ("label", pa.string()),
        ("aliases", pa.list_(pa.string())), ("types", pa.list_(pa.string())),
        ("redirect_to", pa.string()), ("is_disambiguation", pa.bool_()),
        ("popularity", pa.int32()),
    ])
    return spark.createDataFrame(pa.Table.from_pylist([
        {"uri": f"http://x/e{i}", "label": f"Alpha Beta {i}",
         "aliases": [f"ab {i}"], "types": [], "redirect_to": None,
         "is_disambiguation": False, "popularity": i}
        for i in range(n)
    ], schema))


def demo_mentions(spark: SparkSession, n: int) -> DataFrame:
    """(mention_norm) for ``n`` of the demo index's label keys, as an
    Arrow table."""
    return spark.createDataFrame(pa.table(
        {"mention_norm": [f"alpha beta {i}" for i in range(n)]}))


def formatted_explain(df: DataFrame) -> str:
    """``df.explain("formatted")`` captured as a string."""
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def count_nodes(plan_text: str, node: str) -> int:
    """Number of NODES named ``node`` in a formatted explain. Counts
    node ids (``(N) Node``), not substring occurrences — the formatted
    form prints each node twice (tree + detail section) — and anchors
    the name with a word boundary so 'Sort' does not also count
    SortMergeJoin/SortAggregate headers."""
    import re

    return len(
        re.findall(r"\(\d+\) " + re.escape(node) + r"\b", plan_text)
    )


def count_exchanges(plan_text: str) -> int:
    """Number of Exchange nodes in a formatted explain."""
    return count_nodes(plan_text, "Exchange")
