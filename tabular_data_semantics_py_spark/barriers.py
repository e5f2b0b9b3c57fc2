"""Stage barriers: a snappy-parquet round trip that truncates the plan.

A barrier writes a stage's output as parquet and returns a fresh scan
of it. Unlike an executor-storage ``localCheckpoint`` it holds no
unified memory, so later shuffles do not fight it for execution
memory (a run's second materialization took 92 s instead of 11 s on
the sf2.5 corpus), and its scan carries size statistics, so Catalyst
broadcasts a small barrier and shuffle-joins a large one.

Every barrier lands in a run directory, ``<run_dir>/<name>``: a
``run_pipeline`` call owns one and releases it through
``PipelineResult.close``. Scratch run directories live under the
session's Spark temp dir (``SparkFiles.getRootDirectory()``, inside
``spark.local.dir``), which Spark deletes when the context stops or
the JVM exits.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession


def _scratch_dir(spark: SparkSession) -> str:
    return os.path.join(SparkFiles.getRootDirectory(), "tds_stage")


def new_run_dir(spark: SparkSession) -> str:
    """A fresh, empty run directory under this session's scratch dir."""
    scratch = _scratch_dir(spark)
    os.makedirs(scratch, exist_ok=True)
    return tempfile.mkdtemp(dir=scratch)


def parquet_barrier(
    df: DataFrame, name: str, run_dir: str | None = None
) -> DataFrame:
    """Write ``df`` to ``<run_dir>/<name>`` (a fresh run dir when none
    is given), replacing what is there, and return a scan of it. The
    write keeps the plan's final partitions, which AQE coalesces. The
    scan takes ``df``'s schema, so reading it back starts no job (a
    parquet schema inference reads the footers in one)."""
    path = os.path.join(run_dir or new_run_dir(df.sparkSession), name)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def clear_scratch(spark: SparkSession) -> None:
    """Delete every scratch run directory of this session. Only safe
    when no DataFrame read from one is still in use."""
    shutil.rmtree(_scratch_dir(spark), ignore_errors=True)


def list_generations(spark: SparkSession) -> set[str]:
    """Every barrier directory now under this session's scratch dir."""
    runs = os.path.join(glob.escape(_scratch_dir(spark)), "*", "*")
    return {d for d in glob.glob(runs) if os.path.isdir(d)}
