"""Regenerate docs/explain_source_scan.txt — the committed evidence
that the discovery predicate + projection push into the source scan.

Prints the plan that follows the doc's comment header. The corpus
cache directory's name changes with the generator source and the
corpus table list, so it is masked (``<corpus_dir>``): two captures of
one plan are equal.

Usage: python scripts/capture_explain.py
"""

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tabular_data_semantics_py_spark.session import get_spark  # noqa: E402
from tabular_data_semantics_py_spark.sources.repo_source import (  # noqa: E402
    corpus_parquet_dir,
    discover_csv_artifacts,
    load_or_build_corpus_dfs,
)


def main() -> None:
    spark = get_spark(app_name="explain-capture", master="local[4]")
    dfs = load_or_build_corpus_dfs(spark, 24, 8)
    plan = discover_csv_artifacts(dfs["source_repos"]).select(
        "repo", "path", "content"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan.explain("formatted")
    sys.stdout.write(
        buf.getvalue().replace(corpus_parquet_dir(24, 8), "<corpus_dir>")
    )
    spark.stop()


if __name__ == "__main__":
    main()
