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
    part_rows,
)
from tabular_data_semantics_py_spark.plans.pipeline import (
    _sha_mismatches,
    run_pipeline,
)


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
    with run_pipeline(spark, dfs, checkpoint_dir=ck) as res:
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
        run_pipeline(spark, dfs).close()
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


def test_lineage_is_read_from_the_footers_with_no_job(spark, pipeline):
    """A run's lineage holds the row count of each part file of each
    barrier it wrote, and reading it starts no Spark job."""
    lineage = {m["stage"]: m for m in pipeline.metrics}
    assert list(lineage) == ["cells", "entity_types", "cea_linked", "cea"]
    for name, m in lineage.items():
        path = os.path.join(pipeline.run_dir, name)
        read = []
        assert jobs_started(spark, f"lineage-{name}",
                            lambda: read.append(part_rows(spark, path))) == 0
        assert read == [m["files"]]
        assert sum(m["files"].values()) == m["rows"]
        assert m["rows"] == spark.read.parquet(path).count()


def test_a_checkpoint_dir_changes_no_plan(spark, dfs, tmp_path):
    """A checkpointed and a scratch run write the same barrier
    directories, and the checkpointed run, with its triples and CPA
    writes, starts no more jobs than the scratch run plus its sha
    check."""
    runs = []

    def batch(group, checkpoint_dir):
        def run():
            res = run_pipeline(spark, dfs, checkpoint_dir=checkpoint_dir)
            for name in ("triples", "cpa"):
                res.stages[name].write.format("noop").mode("overwrite").save()
            runs.append(res)
        return jobs_started(spark, group, run)

    scratch_jobs = batch("scratch-batch", None)
    checkpointed_jobs = batch("checkpointed-batch", str(tmp_path / "ck"))
    sha_jobs = jobs_started(spark, "sha-check", lambda: _sha_mismatches(
        runs[1].stages["cells"], dfs["source_repos"]))
    try:
        barriers = [
            sorted(d for d in os.listdir(r.run_dir)
                   if os.path.isdir(os.path.join(r.run_dir, d)))
            for r in runs
        ]
        assert barriers[0] == barriers[1] == [
            "cea", "cea_linked", "cells", "entity_types"]
        assert checkpointed_jobs <= scratch_jobs + sha_jobs, (
            checkpointed_jobs, scratch_jobs, sha_jobs)
    finally:
        runs[0].close()
