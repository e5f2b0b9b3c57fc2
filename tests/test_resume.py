"""Checkpoint/resume: a kill after any stage, then a resume, gives the
clean run's triples, and the barriers the kill left complete are read,
not written again (BASELINE.md resumability row; reference semantics
S11 — incremental JSON dumps, validate_sampling.py:158-216)."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tabular_data_semantics_py_spark.plans.pipeline import run_pipeline

# a run's barrier directories, in the order it completes them
BARRIERS = ("cells", "entity_types", "cea_linked", "cea")
# how many of them a kill right after each stage leaves complete: the
# other stages are lazy, so a kill after one leaves what the last
# barrier before it left
KEPT_AFTER = {
    "closure": 0, "cells": 1, "candidates": 1, "cells_m": 1,
    "entity_types": 2, "cea": 4, "cta": 4, "cpa": 4, "triples": 4,
}


def _triples(df):
    return sorted(
        (r.subj, r.pred, r.obj, r.obj_is_literal) for r in df.collect()
    )


def _stamps(ck, names):
    return {n: os.stat(os.path.join(ck, n, "_SUCCESS")).st_mtime_ns
            for n in names}


@pytest.fixture(scope="module")
def complete(spark, dfs, tmp_path_factory):
    """One complete checkpoint and the clean run's triples."""
    ck = str(tmp_path_factory.mktemp("ck_complete"))
    res = run_pipeline(spark, dfs, checkpoint_dir=ck)
    return ck, _triples(res.stages["triples"])


def _killed(complete, tmp_path, kept: int) -> str:
    """A copy of the complete checkpoint holding only its first
    ``kept`` barriers, as a run killed there leaves it."""
    ck = str(tmp_path / "ck")
    shutil.copytree(complete[0], ck)
    os.remove(os.path.join(ck, "manifest.json"))
    for name in BARRIERS[kept:]:
        shutil.rmtree(os.path.join(ck, name))
    return ck


@pytest.mark.parametrize("stage", list(KEPT_AFTER))
def test_resume_after_every_stage(spark, dfs, tmp_path, complete, stage):
    """A kill right after any stage resumes to the clean run's triples,
    and the barriers it left are read, not written again."""
    ck = _killed(complete, tmp_path, KEPT_AFTER[stage])
    kept = _stamps(ck, BARRIERS[:KEPT_AFTER[stage]])
    resumed = run_pipeline(spark, dfs, checkpoint_dir=ck)
    assert _triples(resumed.stages["triples"]) == complete[1]
    assert _stamps(ck, kept) == kept


def test_resume_after_kill_inside_cea(spark, dfs, tmp_path, complete):
    """A kill after cea's internal cea_linked barrier was written but
    before cea completed: the resume reads cells and entity_types,
    writes cea_linked again over the old one and recomputes cea."""
    ck = _killed(complete, tmp_path, BARRIERS.index("cea"))
    kept = _stamps(ck, ("cells", "entity_types"))
    linked = _stamps(ck, ("cea_linked",))
    resumed = run_pipeline(spark, dfs, checkpoint_dir=ck)
    assert _triples(resumed.stages["triples"]) == complete[1]
    assert _stamps(ck, kept) == kept
    assert _stamps(ck, linked) != linked


def test_kill_and_resume_identical(spark, dfs, tmp_path, complete):
    """The manifest of a resumed run: the barriers it read and wrote,
    each with the row count of every part file (lineage)."""
    ck = _killed(complete, tmp_path, KEPT_AFTER["entity_types"])
    resumed = run_pipeline(spark, dfs, checkpoint_dir=ck)
    assert _triples(resumed.stages["triples"]) == complete[1]

    manifest = json.load(open(os.path.join(ck, "manifest.json")))
    assert manifest["metrics"] == resumed.metrics
    lineage = {m["stage"]: m for m in manifest["metrics"] if "files" in m}
    assert list(lineage) == list(BARRIERS)
    assert {n: m["resumed"] for n, m in lineage.items()} == {
        "cells": True, "entity_types": True,
        "cea_linked": False, "cea": False,
    }
    for name, m in lineage.items():
        assert m["files"] and sum(m["files"].values()) == m["rows"]
        assert set(m["files"]) == {
            f for f in os.listdir(os.path.join(ck, name))
            if f.startswith("part-")
        }


def test_sha_integrity_metric_recorded(complete):
    manifest = json.load(open(os.path.join(complete[0], "manifest.json")))
    sha = [m for m in manifest["metrics"] if m["stage"] == "sha_integrity"]
    assert sha == [{"stage": "sha_integrity", "mismatches": 0}]


def test_sha_integrity_mismatch_raises(spark, dfs, tmp_path):
    """A source table holding one (repo, path) twice, under two commits
    with different content: the cells of each copy carry their own
    content's sha, which differs from the other copy's, so the
    checkpointed run records the mismatches and raises."""
    src = dfs["source_repos"]
    csv = src.where(F.col("path").endswith(".csv"))
    first = csv.orderBy("repo", "path").limit(1)
    other = csv.orderBy(F.desc("repo"), F.desc("path")).limit(1)
    twin = first.drop("content").withColumn("commit", F.lit("twin")) \
        .crossJoin(other.select("content"))
    ck = str(tmp_path / "ck")
    with pytest.raises(ValueError, match="sha_integrity"):
        run_pipeline(spark, {**dfs, "source_repos": src.unionByName(twin)},
                     checkpoint_dir=ck)
    manifest = json.load(open(os.path.join(ck, "manifest.json")))
    sha = [m for m in manifest["metrics"] if m["stage"] == "sha_integrity"]
    assert sha == [{"stage": "sha_integrity", "mismatches": 2}]
