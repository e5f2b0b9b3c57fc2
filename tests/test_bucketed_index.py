"""Bucketed lexical-index join: no Exchange above the index scan
(SURVEY.md §4.2; VERDICT r03 #7). The committed artifact
docs/explain_bucketed_index.txt shows the same plan at capture time —
fixture, explain capture, and Exchange count are shared with
scripts/capture_explain_bucketed.py via sources/bucketed.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tabular_data_semantics_py_spark.operators.candidates import (
    build_index_keys,
)
from tabular_data_semantics_py_spark.sources.bucketed import (
    count_exchanges,
    demo_entity_index,
    demo_mentions,
    exact_match_bucketed,
    formatted_explain,
    write_bucketed_index,
)


@pytest.fixture()
def bucketed_table(spark, tmp_path):
    index_keys = build_index_keys(demo_entity_index(spark, n=200))
    write_bucketed_index(
        index_keys, table="tds_index_keys_test", n_buckets=8,
        path=str(tmp_path / "idx"),
    )
    yield "tds_index_keys_test"
    spark.sql("DROP TABLE IF EXISTS tds_index_keys_test")


def test_bucketed_join_plans_without_index_exchange(spark, bucketed_table):
    mentions = demo_mentions(spark, 50)
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # disable broadcast: the demonstration is the shuffle shape a
    # 10^8-row index forces (it can never broadcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = exact_match_bucketed(spark, mentions, bucketed_table)
        plan = formatted_explain(joined)
        # the index scan reads the bucket layout...
        assert "Bucketed: true" in plan, plan
        # ...and the ONLY Exchange node in the plan is the mention
        # side shuffling into it; the bucketed side has none
        assert count_exchanges(plan) == 1, plan
        # both frames are Arrow tables: no Python-filled RDD scan
        assert "applySchemaToPythonRDD" not in plan, plan
        got = {(r.mention_norm, r.uri) for r in joined.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)

    # result equality with the inline (unbucketed) join
    index_keys = build_index_keys(demo_entity_index(spark, n=200))
    ref = (
        mentions.join(
            index_keys, mentions.mention_norm == index_keys.key_norm
        ).select("mention_norm", "uri", F.lit(1.0).alias("score"))
    )
    want = {(r.mention_norm, r.uri) for r in ref.collect()}
    assert got == want and len(got) == 50


def test_count_nodes_is_boundary_anchored():
    """'Sort' must not also count SortMergeJoin/SortAggregate detail
    headers — node names are word-boundary anchored."""
    from tabular_data_semantics_py_spark.sources.bucketed import (
        count_nodes,
    )

    plan = (
        "(1) Sort [codegen id : 1]\n"
        "(2) SortMergeJoin Inner\n"
        "(3) Sort\n"
        "(4) Exchange hashpartitioning\n"
        "(5) BroadcastExchange\n"
    )
    assert count_nodes(plan, "Sort") == 2
    assert count_nodes(plan, "SortMergeJoin") == 1
    assert count_nodes(plan, "Exchange") == 1
