"""Incremental KG construction over a stream of source-repository
files (Structured Streaming ``foreachBatch``).

The reference pipeline is batch-only (its closest analogue is the
incremental JSON checkpointing in ``test/challenge_utils.py:399-413``,
re-expressed here as checkpoint/resume — SURVEY.md §2.10); at 10^12
files, however, source tables ARRIVE continuously, and re-running the
batch pipeline over the whole corpus per delivery is O(corpus) per
arrival. This operator makes each micro-batch's table side O(new
files):

- the file-stream source (``readStream.parquet``) tracks processed
  files in its checkpoint, giving exactly-once, restart-safe pickup of
  new arrivals (Trigger.AvailableNow drains what exists, then stops —
  the deploy shape for periodic ingest jobs);
- each micro-batch runs the UNMODIFIED batch pipeline on only the new
  files, appends the emitted triples to a partitioned graph table and
  then deletes that run's own barrier directory, so nothing is left
  on scratch between batches and no other run's barriers are touched;
- correctness rests on a containment invariant, not luck: every
  corpus-level aggregation in the pipeline (CEA vote assembly, CTA
  type voting, CPA pair support, main-column election) groups by
  (table, col) or (table, col-pair), and a table lives WHOLLY inside
  one ``source_repos`` row (its ``content``), so file-granular batches
  can never split an aggregation group. The only cross-table step is
  the canonical 4-column dedup at the tail of emission, re-applied
  globally by ``accumulated_triples`` — hence
  stream-then-dedup ≡ batch-on-everything, byte-for-byte
  (tests/test_streaming_kg_ingest.py proves it, including a
  checkpoint restart between waves).

At 100 TB the append target would be a partitioned/bucketed graph
table. Nothing in the loop grows with the accumulated corpus, but the
per-batch cost is O(new files + KG side): every micro-batch re-runs
``run_pipeline``, which rebuilds the ontology closure, the entity
types and the normalized index keys from the static tables. Building
the KG side once per stream is ROADMAP open item 5.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SOURCE_SCHEMA = (
    "repo string, path string, commit string, lang string, content string"
)

TRIPLE_COLS = ["subj", "pred", "obj", "obj_is_literal"]


def stream_kg_triples(
    spark: SparkSession,
    stream_dir: str,
    static_dfs: dict[str, DataFrame],
    triples_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain all currently-available source files from ``stream_dir``
    (Trigger.AvailableNow), run the batch pipeline per micro-batch,
    and append emitted triples to ``triples_dir``.

    ``static_dfs``: the non-stream corpus tables (entity index,
    ontology, existing KG triples, …) — everything
    ``plans.pipeline.run_pipeline`` needs except ``source_repos``,
    which is supplied per batch. Re-invoking with the same
    ``checkpoint_dir`` processes only files that arrived since the
    last drain (exactly-once via the source's file log).

    Each batch's pipeline run owns its barrier directory and releases
    it once the batch's append commits, or when the batch raises, so a
    long backlog does not fill the scratch volume and no other run's
    barriers are touched.
    """
    from ..plans.pipeline import run_pipeline

    stream = spark.readStream.schema(SOURCE_SCHEMA).parquet(stream_dir)

    def _batch(batch_df: DataFrame, _epoch: int) -> None:
        if not batch_df.take(1):
            return
        dfs = dict(static_dfs)
        dfs["source_repos"] = batch_df
        with run_pipeline(spark, dfs) as res:
            res.stages["triples"].write.mode("append").parquet(triples_dir)

    (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def accumulated_triples(spark: SparkSession, triples_dir: str) -> DataFrame:
    """The canonical graph view over everything appended so far: the
    same 4-column dedup the batch emitter applies corpus-wide (E6),
    re-applied across batch boundaries — it absorbs at-least-once
    upstream re-delivery (the same source file landing twice under a
    new name) and any future cross-table triple overlap; on the
    fixture corpus single-delivery appends are already disjoint."""
    return spark.read.parquet(triples_dir).dropDuplicates(TRIPLE_COLS)
