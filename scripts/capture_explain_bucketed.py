"""Regenerate docs/explain_bucketed_index.txt — the committed evidence
that the exact-match candidates equi-join plans with NO Exchange above
the bucketed lexical-index scan (sources/bucketed.py; SURVEY.md §4.2).

Fixture, explain capture, and the Exchange-node count are shared with
tests/test_bucketed_index.py via sources/bucketed.py, so the artifact
always demonstrates exactly what the test asserts.

Usage: python scripts/capture_explain_bucketed.py
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tabular_data_semantics_py_spark.operators.candidates import (  # noqa: E402
    build_index_keys,
)
from tabular_data_semantics_py_spark.session import get_spark  # noqa: E402
from tabular_data_semantics_py_spark.sources.bucketed import (  # noqa: E402
    count_exchanges,
    demo_entity_index,
    demo_mentions,
    exact_match_bucketed,
    formatted_explain,
    write_bucketed_index,
)


def main() -> None:
    spark = get_spark(app_name="explain-bucketed", master="local[4]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    index = demo_entity_index(spark, n=500)
    with tempfile.TemporaryDirectory() as td:
        write_bucketed_index(
            build_index_keys(index), table="tds_index_keys_demo",
            n_buckets=8, path=os.path.join(td, "idx"),
        )
        mentions = demo_mentions(spark, 100)
        # a 10^8-row index can never broadcast — show the shuffle shape
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = exact_match_bucketed(spark, mentions, "tds_index_keys_demo")
        txt = formatted_explain(plan)
        sys.stdout.write(txt)
        sys.stdout.write(
            f"\n-- {count_exchanges(txt)} Exchange(s) in the plan: the "
            "mention side shuffles into the bucket layout; the index "
            "scan (Bucketed: true) has none above it.\n"
        )
        spark.sql("DROP TABLE IF EXISTS tds_index_keys_demo")
    spark.stop()


if __name__ == "__main__":
    main()
