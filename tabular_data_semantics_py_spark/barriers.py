"""Plan-truncating stage barrier for fact-scale stage outputs.

``parquet_barrier`` is a snappy-parquet round trip through the
session scratch dir; it is the package's only stage checkpoint. An
executor-storage ``localCheckpoint`` of a fact table would occupy the
unified-memory *storage* pool, and every later shuffle/aggregation
then fights it for *execution* memory — measured on the sf2.5 bench
corpus this turns the second materialization of a run from 11 s into
92 s (eviction thrash). At the 100 TB target a full-corpus
executor-storage checkpoint is impossible by construction; stage
outputs live on (distributed) storage, which is exactly what this
barrier models. Parquet is also 5-10x smaller than the in-memory rows
for the string-heavy KG tables, and its scan carries size statistics
(a ``localCheckpoint`` scan has none and is planned as enormous).

Each barrier write lands in a fresh generation directory (DataFrames
returned by earlier pipeline runs in the same session must stay
readable, so a shared overwrite path is not an option). Disk is
reclaimed by ``clear_scratch`` between standalone pipeline reps (bench
does this) and, as a backstop, by an ``atexit`` hook registered on the
first write of each session — so long-lived processes that run many
pipelines (golden tests, the driver-contract registry) do not leave
fact-scale parquet stacked in /tmp after exit.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

# per-process generation counter: every barrier write gets a fresh
# directory, so DataFrames returned by *earlier* pipeline runs in the
# same session stay valid (a shared overwrite path breaks any
# still-referenced lazy plan over the previous files — observed as
# FileNotFoundException in a session that runs the pipeline twice).
_SEQ = itertools.count()

# scratch dirs with a registered atexit cleanup, keyed by applicationId
_ATEXIT_REGISTERED: set[str] = set()

def _scratch_dir(spark: SparkSession) -> str:
    # the same root as spark.local.dir (session.scratch_root): barrier
    # parquet is stage I/O, like shuffle and spill files
    from .session import scratch_root

    app_id = spark.sparkContext.applicationId
    return os.path.join(scratch_root(), f"tds_stage_{app_id}")


def _register_cleanup(path: str) -> None:
    if path not in _ATEXIT_REGISTERED:
        _ATEXIT_REGISTERED.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)


def parquet_barrier(df: DataFrame, name: str) -> DataFrame:
    """Materialize ``df`` to scratch parquet and return a fresh native
    scan of it (plan truncated, storage pool untouched).

    The write is NOT explicitly repartitioned: it lands as many files
    as the plan's final partitions, which AQE coalesces by Spark's
    defaults (no smaller than 1 MiB of shuffle output each). A small
    barrier may be one file, and a consumer scan of it one task; that
    is expected at fixture scale, where the whole barrier is a few MB.
    Probing the plan width via ``df.rdd`` is NOT an option: under AQE
    that conversion materializes the query stages, executing the
    upstream once for the probe and again for the write.

    Generation dirs accumulate within a session; ``clear_scratch``
    reclaims them between standalone reps, and an ``atexit`` hook
    (registered on first write) reclaims them at process exit.
    """
    spark = df.sparkSession
    scratch = _scratch_dir(spark)
    _register_cleanup(scratch)
    path = os.path.join(scratch, f"{name}-g{next(_SEQ)}")
    df.write.parquet(path)
    return spark.read.parquet(path)


def clear_scratch(spark: SparkSession) -> None:
    """Delete every stage-barrier generation of this session. Only safe
    when no DataFrame from a previous ``run_pipeline`` call is still
    live (bench drops them before calling). Callers that cannot prove
    that use the scoped ``list_generations``/``reclaim_new_generations``
    pair instead."""
    shutil.rmtree(_scratch_dir(spark), ignore_errors=True)


def list_generations(spark: SparkSession) -> set[str]:
    """Snapshot of the generation dirs currently on scratch — pair
    with ``reclaim_new_generations`` to bound a region's disk use
    without touching earlier pipelines' still-live barriers."""
    scratch = _scratch_dir(spark)
    try:
        return {os.path.join(scratch, d) for d in os.listdir(scratch)}
    except FileNotFoundError:
        return set()


def reclaim_new_generations(spark: SparkSession, before: set[str]) -> None:
    """Delete only the generation dirs created since the ``before``
    snapshot. Scoped alternative to ``clear_scratch``: DataFrames
    produced before the snapshot stay readable; everything the scoped
    region wrote is reclaimed (so the region's own outputs must be
    fully consumed by the time this runs).

    PRECONDITION — no concurrent barrier writers: the snapshot diff
    cannot tell the scoped region's generations from generations some
    OTHER in-flight work created after the snapshot, and would delete
    those too. Safe against earlier (completed) pipelines' still-live
    barriers; NOT safe against barrier-writing work running in
    parallel with the scoped region."""
    for d in list_generations(spark) - before:
        shutil.rmtree(d, ignore_errors=True)
