"""Each ``run_pipeline`` call owns one directory for its barriers, and
its result releases that directory and nothing else."""

import os
import shutil

import pytest
from conftest import jobs_started
from pyspark import SparkFiles
from pyspark.errors import AnalysisException

from tabular_data_semantics_py_spark.barriers import (
    _scratch_dir,
    list_generations,
    new_run_dir,
    parquet_barrier,
)
from tabular_data_semantics_py_spark.plans.pipeline import run_pipeline


def _triples(df):
    return {(r.subj, r.pred, r.obj, r.obj_is_literal) for r in df.collect()}


def test_close_releases_only_its_own_run(spark, dfs, gold):
    before = list_generations(spark)
    a = run_pipeline(spark, dfs)
    a_dirs = list_generations(spark) - before
    b = run_pipeline(spark, dfs)
    b_dirs = list_generations(spark) - before - a_dirs
    assert a_dirs and b_dirs
    assert {os.path.dirname(d) for d in a_dirs} == {a.run_dir}
    assert {os.path.dirname(d) for d in b_dirs} == {b.run_dir}

    b.close()
    assert list_generations(spark) - before == a_dirs
    assert _triples(a.stages["triples"]) == set(gold.triples)
    a.close()
    assert list_generations(spark) - before == set()


def test_close_keeps_the_checkpoint_dir(spark, dfs, tmp_path):
    ck = str(tmp_path / "ck")
    with run_pipeline(spark, dfs, checkpoint_dir=ck, stop_after="cells") as res:
        assert res.run_dir == ck
    assert os.path.exists(os.path.join(ck, "cells", "_SUCCESS"))
    assert os.path.exists(os.path.join(ck, "manifest.json"))


def test_a_failed_run_leaves_no_run_dir(spark, dfs):
    scratch = _scratch_dir(spark)
    os.makedirs(scratch, exist_ok=True)
    before = set(os.listdir(scratch))
    broken = {**dfs, "source_repos": dfs["source_repos"].drop("content")}
    with pytest.raises(AnalysisException):
        run_pipeline(spark, broken)
    assert set(os.listdir(scratch)) == before


def test_scratch_lies_in_the_spark_temp_dir(spark):
    # SparkContext.stop() and the JVM's shutdown hook delete it
    root = SparkFiles.getRootDirectory()
    assert os.path.commonpath([root, _scratch_dir(spark)]) == root


def test_run_keeps_the_callers_job_description(spark, dfs):
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        run_pipeline(spark, dfs, stop_after="cells").close()
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)


def test_barrier_read_back_starts_no_job(spark):
    """A barrier starts the jobs of its write and no more: the scan it
    returns takes the written DataFrame's schema instead of inferring
    one from the parquet footers."""
    run_dir = new_run_dir(spark)
    try:
        df = spark.range(10).selectExpr("id", "cast(id as string) as s")
        writes = jobs_started(spark, "barrier-write", lambda: (
            df.write.parquet(os.path.join(run_dir, "plain"))))
        out = []
        barrier = jobs_started(spark, "barrier", lambda: out.append(
            parquet_barrier(df, "b", run_dir)))
        assert writes >= 1
        assert barrier == writes
        assert sorted(out[0].collect()) == sorted(df.collect())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
