"""Regenerate docs/explain_redirect_join.txt — the committed evidence
that the redirect-resolution joins in operators/candidates.py pick
BroadcastHashJoin at fixture scale WITHOUT a forced hint (VERDICT r04
#4: the hint was dropped because redirects are a material fraction of
the entity index — redirect pages are ordinary entities — and a
forced broadcast would OOM executors at the 10^8-entity target;
while the table is small, stats/AQE must — and do — choose broadcast
on their own).

Drives generate_candidates directly on the data cells as the pipeline
does (the pipeline's stage barriers would otherwise hide the join
subtree behind a barrier scan), and captures the EXECUTED, AQE-final
plan. The summary also counts the Python UDF nodes in the plan: none,
since mention and index-key normalization and candidate scoring are
built-in expressions. The pipeline run's barrier directory, the
corpus cache directory (named by a hash of the corpus tables) and the
``plan_id`` numbers change from run to run or with the corpus, so they
are masked (``<run_dir>``, ``<corpus_dir>``, ``plan_id=#``), and
expression IDs are renumbered in order of first appearance: two
captures of one plan are equal.

Usage: python scripts/capture_explain_redirect.py
"""

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from tabular_data_semantics_py_spark import entry_queries  # noqa: E402
from tabular_data_semantics_py_spark.operators.candidates import (  # noqa: E402
    generate_candidates,
)
from tabular_data_semantics_py_spark.session import get_spark  # noqa: E402
from tabular_data_semantics_py_spark.sources.csv_cells import (  # noqa: E402
    data_cells,
)


def main() -> None:
    spark = get_spark(app_name="explain-capture-redirect", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    dfs = entry_queries._dfs(spark)
    res = entry_queries._pipeline(spark)
    cells = res.stages["cells"]
    _, cands = generate_candidates(data_cells(cells), dfs["entity_index"])
    cands.count()  # drive AQE to its final plan
    buf = io.StringIO()
    with redirect_stdout(buf):
        cands.explain("formatted")
    out = re.sub(r"plan_id=\d+", "plan_id=#",
                 buf.getvalue().replace(res.run_dir, "<run_dir>"))
    out = re.sub(r"/[^\s\[\]]*/tds_corpus_\w+", "<corpus_dir>", out)
    ids: dict[str, int] = {}
    out = re.sub(r"#(\d+)",
                 lambda m: f"#{ids.setdefault(m[1], len(ids))}", out)
    n_bhj = out.count("BroadcastHashJoin")
    n_smj = out.count("SortMergeJoin")
    udfs = sorted(
        set(re.findall(r"^Arguments: \[(\w+)\(.*pythonUDF", out, re.M))
    )
    sys.stdout.write(out)
    sys.stdout.write(
        f"\n-- summary: BroadcastHashJoin={n_bhj} SortMergeJoin={n_smj} "
        "(redirect joins broadcast with no hint in the source); "
        f"ArrowEvalPython={out.count('ArrowEvalPython (')}"
        + (f" (udfs: {', '.join(udfs)})" if udfs else "") + "\n"
    )
    spark.stop()


if __name__ == "__main__":
    main()
