"""End-to-end KG-construction pipeline with checkpoint/resume and
per-partition lineage metrics (BASELINE.md resumability row).

The reference resumes long batch jobs from incremental JSON/CSV
checkpoints (test/validate_sampling.py:158-216, challenge_utils.py:
399-413 append-reopen). Here each ``run_pipeline`` call owns one run
directory: the caller's checkpoint dir when one is given, else a
fresh directory on session scratch (barriers.py). Every stage it
materializes, and the barrier inside ``cea``, lands there as
``<run_dir>/<stage>``, and a stage whose parquet is complete
(``_SUCCESS``) is read instead of recomputed. With a checkpoint dir
every stage is materialized, so a kill at any stage boundary resumes
to byte-identical output; a manifest records stage order + row counts
and per-stage, per-partition row counts (lineage) plus the per-row
content-sha integrity check. ``PipelineResult.close`` deletes a
scratch run directory; a checkpoint dir stays.

Stages run in ``STAGES`` order; each reads the corpus tables and the
earlier stages named after its arrow (SURVEY.md §7):
  closure      ← ontology
  cells        ← source files (the CSV parse)
  candidates   ← cells, entity index
  cells_m      ← cells (plus the normalized mention; same plan)
  entity_types ← entity index, KG triples, property meta, closure
  cea          ← cells_m, candidates, entity_types
  cta          ← cea, entity_types, closure
  cpa          ← cea, KG triples
  triples      ← cells, cea, cta
A stage may hold several shuffles or none. Without a checkpoint dir
only cells, entity_types and cea are materialized
(``_BARRIER_STAGES``), and no lineage is collected.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..barriers import new_run_dir, parquet_barrier
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

STAGES = [
    "closure", "cells", "candidates", "cells_m", "entity_types",
    "cea", "cta", "cpa", "triples",
]


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


# stages whose output is consumed by 2+ downstream branches: in
# no-checkpoint mode these are eagerly materialized, so no consumer
# re-runs the stage's subtree. cells (the CSV parse) has three
# consumers, candidates, rows_present and emission, and without its
# barrier each would parse every artifact again; entity_types is read
# by cea and cta, and cea by cta, cpa and emission. candidates has one
# consumer, the join that cea's own ``cea_linked`` barrier writes, so
# its jobs run under ``tds:cea``. cells_m is a per-row projection of
# the cells barrier, so it stays lazy.
# These barriers are parquet-backed (barriers.py): a parquet scan
# carries real size statistics, so Catalyst broadcasts a barrier that
# is small and shuffle-joins one that is not — the scale-appropriate
# plan falls out of the stats instead of per-join hints.
_BARRIER_STAGES = {"cells", "entity_types", "cea"}


class _Checkpointer:
    def __init__(self, spark: SparkSession, root: str, durable: bool,
                 resume: bool):
        self.spark = spark
        self.root = root
        self.durable = durable  # root is the caller's checkpoint dir
        self.resume = resume
        self.metrics: list[dict] = []

    def described(self, name: str, fn):
        """Run ``fn()`` with every job it starts on this thread labelled
        ``tds:<name>`` (AQE/broadcast subjobs inherit the description
        through their captured thread-locals), then restore the
        caller's description."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"tds:{name}")
        try:
            return fn()
        finally:
            sc.setJobDescription(prev)

    def stage(self, name: str, compute, extra_metric=None) -> DataFrame:
        return self.described(
            name, lambda: self._stage(name, compute, extra_metric)
        )

    def _stage(self, name: str, compute, extra_metric=None) -> DataFrame:
        if not (self.durable or name in _BARRIER_STAGES):
            return compute()
        path = os.path.join(self.root, name)
        if self.resume and os.path.exists(os.path.join(path, "_SUCCESS")):
            self.metrics.append({"stage": name, "resumed": True})
            return self.spark.read.parquet(path)
        out = parquet_barrier(compute(), name, self.root)
        if not self.durable:
            return out
        # per-partition lineage row counts (A9 metrics-table role).
        # ``extra_metric(out) -> DataFrame[metric string, n long]``
        # rides the SAME collect (one driver action per stage, not
        # two — the sha-integrity fold, VERDICT r02 #1b).
        lineage = out.groupBy(
            F.spark_partition_id().alias("pid")
        ).agg(F.count(F.lit(1)).alias("rows")).select(
            F.lit(None).cast("string").alias("metric"), "pid", "rows"
        )
        if extra_metric is not None:
            lineage = lineage.unionByName(
                extra_metric(out).select(
                    "metric", F.lit(-1).alias("pid"), F.col("n").alias("rows")
                )
            )
        collected = lineage.collect()
        part_counts = [
            {"stage": name, "partition": r["pid"], "rows": r["rows"]}
            for r in collected if r["metric"] is None
        ]
        self.metrics.append(
            {
                "stage": name,
                "resumed": False,
                "rows": sum(p["rows"] for p in part_counts),
                "partitions": part_counts,
            }
        )
        for r in collected:
            if r["metric"] is not None:
                self.metrics.append({"stage": r["metric"], "mismatches": r["rows"]})
        return out

    def finish(self) -> None:
        if not self.durable:
            return
        with open(os.path.join(self.root, "manifest.json"), "w") as f:
            json.dump({"stages": STAGES, "metrics": self.metrics}, f, indent=1)


def run_pipeline(
    spark: SparkSession,
    dfs: dict[str, DataFrame],
    checkpoint_dir: str | None = None,
    resume: bool = True,
    stop_after: str | None = None,
) -> PipelineResult:
    """dfs: the corpus tables (see sources.corpus_to_dataframes).

    The stages run one after another in ``STAGES`` order, with or
    without a checkpoint_dir. ``stop_after='cea'`` simulates a mid-run
    kill at a stage boundary; a later call with the same checkpoint_dir
    resumes from there.

    The result owns the run's scratch directory: use it in a ``with``
    block, or call ``close()``, once its stages are consumed. An
    unclosed one is deleted when the Spark context stops.

    Without a checkpoint_dir only the multi-consumed stages
    (``_BARRIER_STAGES``) are eagerly materialized: ``cells`` (the CSV
    parse, read by candidates, ``rows_present`` and emission),
    ``entity_types`` and ``cea``. The rest stays lazy until an action
    on their output. Every stage is Spark built-ins; no Python runs on
    an executor.
    """
    if stop_after is not None and stop_after not in STAGES:
        raise ValueError(f"stop_after={stop_after!r} is not one of {STAGES}")
    durable = checkpoint_dir is not None
    ck = _Checkpointer(spark, checkpoint_dir or new_run_dir(spark),
                       durable, resume)
    # the checkpointer's live metrics list, so a stop_after return
    # carries the lineage/sha-integrity metrics collected so far
    res = PipelineResult(ck.root, not durable, metrics=ck.metrics)
    s = res.stages

    # per-row content-sha integrity (BASELINE.json input_hint
    # invariant): every (path, content_sha) seen in cells must equal
    # the sha2 of the source row's content. Folded into the cells
    # stage's lineage collect — one driver action, not two.
    def _sha_integrity(cells_out: DataFrame) -> DataFrame:
        # join on the source table's NATURAL key (repo, path) — path
        # alone collides across repos in a multi-repo corpus and would
        # report false mismatches on intact data
        src_sha = dfs["source_repos"].select(
            "repo", "path", F.sha2(F.col("content"), 256).alias("src_sha")
        )
        return (
            cells_out.select("repo", "path", "content_sha").distinct()
            .join(src_sha, ["repo", "path"], "left")
            .where(
                F.col("src_sha").isNull()
                | (F.col("src_sha") != F.col("content_sha"))
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("sha_integrity").alias("metric"), "n")
        )

    @functools.cache
    def _candidates() -> tuple[DataFrame, DataFrame]:
        # one lazy plan for both stages (either may be resumed instead):
        # cells_m is cells plus mention_norm; candidates runs in cea_linked
        return generate_candidates(data_cells(s["cells"]), dfs["entity_index"])

    compute = {
        "closure": lambda: build_closure(
            dfs["ontology_edges"], dfs["ontology_equivalent"]
        ),
        "cells": lambda: parse_cells(discover_csv_artifacts(dfs["source_repos"])),
        "candidates": lambda: _candidates()[1],
        # consumed by CEA here and by the fragment query — a
        # first-class resumable stage (VERDICT r02 #6)
        "cells_m": lambda: _candidates()[0],
        "entity_types": lambda: build_entity_types(
            dfs["entity_index"], dfs["kg_triples"], dfs["property_meta"],
            s["closure"], closure_map,
        ),
        "cea": lambda: cea_op(
            s["cells_m"], s["candidates"], s["entity_types"], ck.root
        ),
        "cta": lambda: cta_op(
            s["cea"], s["entity_types"],
            make_most_specific_udf(closure_map, AGENT_CLASS), s["closure"],
        ),
        "cpa": lambda: cpa_op(s["cea"], dfs["kg_triples"]),
        "triples": lambda: emit_triples(s["cells"], s["cea"], s["cta"]),
    }
    try:
        for name in STAGES:
            s[name] = ck.stage(
                name, compute[name],
                extra_metric=_sha_integrity if name == "cells" else None,
            )
            if name == "closure":
                # the Python dict behind the closure map literal that
                # entity_types and cta read
                closure_map = ck.described(
                    "closure", lambda: closure_to_map(s["closure"])
                )
            if name == stop_after:
                break
    except BaseException:
        res.close()  # a failed run leaves no scratch barriers behind
        raise
    ck.finish()
    return res
