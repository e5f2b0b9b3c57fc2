"""End-to-end KG-construction pipeline with checkpoint/resume and
per-file lineage metrics (BASELINE.md resumability row).

The reference resumes long batch jobs from incremental JSON/CSV
checkpoints (test/validate_sampling.py:158-216, challenge_utils.py:
399-413 append-reopen). Here each ``run_pipeline`` call owns one run
directory and runs one plan into it, with or without a checkpoint
dir. Stages run in this order; each reads the corpus tables and the
earlier stages named after its arrow (SURVEY.md §7), and the starred
ones are barriers, written to ``<run_dir>/<stage>`` as parquet
(barriers.py):
  closure       ← ontology
  cells*        ← source files (the CSV parse)
  candidates    ← cells, entity index
  cells_m       ← cells (plus the normalized mention; same plan)
  entity_types* ← entity index, KG triples, property meta, closure
  cea*          ← cells_m, candidates, entity_types (with the
                  ``cea_linked`` barrier inside it)
  cta           ← cea, entity_types, closure
  cpa           ← cea, KG triples
  triples       ← cells, cea, cta
A stage may hold several shuffles or none. The unstarred stages stay
lazy and run under the caller's action on their output.

Every run records its lineage in ``PipelineResult.metrics``: the row
count of each part file of each barrier, read from the parquet
footers (no Spark job). A checkpoint dir changes three things:
- the run dir is the caller's, and ``PipelineResult.close`` keeps it
  (a scratch run dir is deleted);
- a complete barrier (``_SUCCESS``) is read instead of recomputed, so
  a kill at any barrier boundary resumes to byte-identical output,
  with the lazy stages recomputed from the barriers;
- the run checks that every (repo, path, content_sha) of ``cells``
  matches the sha2 of its source row, writes ``manifest.json`` (the
  lineage and the mismatch count) and then raises on a mismatch.
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..barriers import (
    is_complete,
    new_run_dir,
    parquet_barrier,
    part_rows,
    write_text,
)
from ..constants import AGENT_CLASS
from ..operators.annotate import cea as cea_op
from ..operators.annotate import cpa as cpa_op
from ..operators.annotate import cta as cta_op
from ..operators.candidates import generate_candidates
from ..operators.closure import build_closure, closure_to_map
from ..operators.emit import emit_triples
from ..operators.types_cascade import (
    build_entity_types,
    make_most_specific_udf,
)
from ..sources.csv_cells import data_cells, parse_cells
from ..sources.repo_source import discover_csv_artifacts


@dataclass
class PipelineResult:
    """A run's stages and metrics, and the directory its barriers are
    in. ``close()``, or leaving a ``with`` block, deletes that directory
    unless it is the caller's checkpoint dir; stages read from it are
    then unusable."""

    run_dir: str
    owns_run_dir: bool
    stages: dict[str, DataFrame] = field(default_factory=dict)
    metrics: list[dict] = field(default_factory=list)

    def close(self) -> None:
        if self.owns_run_dir:
            shutil.rmtree(self.run_dir, ignore_errors=True)

    def __enter__(self) -> PipelineResult:
        return self

    def __exit__(self, *exc) -> None:
        self.close()


@contextmanager
def _described(spark: SparkSession, name: str):
    """Label every job the block starts on this thread ``tds:<name>``
    (AQE/broadcast subjobs inherit the description through their
    captured thread-locals), then restore the caller's description."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"tds:{name}")
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def _sha_mismatches(cells: DataFrame, source_repos: DataFrame) -> int:
    """(repo, path, content_sha) rows of ``cells`` whose source row's
    content does not hash to content_sha (BASELINE.json input_hint).
    Joined on the source table's natural key (repo, path): path alone
    collides across repos in a multi-repo corpus."""
    src_sha = source_repos.select(
        "repo", "path", F.sha2(F.col("content"), 256).alias("src_sha")
    )
    return (
        cells.select("repo", "path", "content_sha").distinct()
        .join(src_sha, ["repo", "path"], "left")
        .where(F.col("src_sha").isNull()
               | (F.col("src_sha") != F.col("content_sha")))
        .count()
    )


def run_pipeline(
    spark: SparkSession,
    dfs: dict[str, DataFrame],
    checkpoint_dir: str | None = None,
    resume: bool = True,
) -> PipelineResult:
    """dfs: the corpus tables (see sources.corpus_to_dataframes).

    The result owns the run's scratch directory: use it in a ``with``
    block, or call ``close()``, once its stages are consumed. An
    unclosed one is deleted when the Spark context stops. With a
    checkpoint_dir, complete barriers there are read back unless
    ``resume`` is false. Every stage is Spark built-ins; no Python runs
    on an executor.
    """
    run_dir = checkpoint_dir or new_run_dir(spark)
    res = PipelineResult(run_dir, checkpoint_dir is None)
    s = res.stages

    # The barriers are the stages with 2+ consumers, so no consumer
    # re-runs the stage's subtree: cells (the CSV parse) is read by
    # candidates, rows_present and emission, and without its barrier
    # each would parse every artifact again; entity_types is read by
    # cea and cta, and cea by cta, cpa and emission. candidates has one
    # consumer, the join that cea's own ``cea_linked`` barrier writes,
    # so its jobs run under ``tds:cea``. A barrier's parquet scan
    # carries real size statistics, so Catalyst broadcasts a barrier
    # that is small and shuffle-joins one that is not: the
    # scale-appropriate plan falls out of the stats, not per-join hints.
    def barrier(name: str, compute, inner: tuple[str, ...] = ()) -> DataFrame:
        path = os.path.join(run_dir, name)
        resumed = bool(checkpoint_dir) and resume and is_complete(spark, path)
        with _described(spark, name):
            out = (spark.read.parquet(path) if resumed
                   else parquet_barrier(compute(), name, run_dir))
        for written in (name,) if resumed else (*inner, name):
            files = part_rows(spark, os.path.join(run_dir, written))
            res.metrics.append({"stage": written, "resumed": resumed,
                                "rows": sum(files.values()), "files": files})
        return out

    try:
        with _described(spark, "closure"):
            s["closure"] = build_closure(
                dfs["ontology_edges"], dfs["ontology_equivalent"]
            )
            # the Python dict behind the closure map literal that
            # entity_types and cta read
            closure_map = closure_to_map(s["closure"])
        s["cells"] = barrier("cells", lambda: parse_cells(
            discover_csv_artifacts(dfs["source_repos"])))
        # one lazy plan for both: cells_m is cells plus mention_norm,
        # read by cea here and by the fragment query
        s["cells_m"], s["candidates"] = generate_candidates(
            data_cells(s["cells"]), dfs["entity_index"]
        )
        s["entity_types"] = barrier("entity_types", lambda: build_entity_types(
            dfs["entity_index"], dfs["kg_triples"], dfs["property_meta"],
            s["closure"], closure_map,
        ))
        s["cea"] = barrier("cea", lambda: cea_op(
            s["cells_m"], s["candidates"], s["entity_types"], run_dir
        ), inner=("cea_linked",))
        s["cta"] = cta_op(
            s["cea"], s["entity_types"],
            make_most_specific_udf(closure_map, AGENT_CLASS), s["closure"],
        )
        s["cpa"] = cpa_op(s["cea"], dfs["kg_triples"])
        s["triples"] = emit_triples(s["cells"], s["cea"], s["cta"])
        if checkpoint_dir:
            with _described(spark, "sha_integrity"):
                bad = _sha_mismatches(s["cells"], dfs["source_repos"])
            res.metrics.append({"stage": "sha_integrity", "mismatches": bad})
            write_text(spark, os.path.join(run_dir, "manifest.json"),
                       json.dumps({"metrics": res.metrics}, indent=1))
            if bad:
                raise ValueError(
                    f"sha_integrity: {bad} (repo, path, content_sha) rows "
                    "of cells do not match their source row's content"
                )
    except BaseException:
        res.close()  # a failed run leaves no scratch barriers behind
        raise
    return res
