"""Checkpoint/resume: kill at a stage boundary, resume, identical
output (BASELINE.md resumability row; reference semantics S11 —
incremental JSON dumps, validate_sampling.py:158-216)."""

import json
import os
import shutil

import pytest

from tabular_data_semantics_py_spark.plans.pipeline import STAGES, run_pipeline


def _triples(df):
    return sorted(
        (r.subj, r.pred, r.obj, r.obj_is_literal) for r in df.collect()
    )


def test_kill_and_resume_identical(spark, dfs, tmp_path):
    ck1 = str(tmp_path / "ck_killed")
    ck2 = str(tmp_path / "ck_clean")

    # full clean run
    clean = run_pipeline(spark, dfs, checkpoint_dir=ck2)
    want = _triples(clean.stages["triples"])

    # killed run: stop after the 'cea' stage boundary…
    run_pipeline(spark, dfs, checkpoint_dir=ck1, stop_after="cea")
    assert os.path.exists(os.path.join(ck1, "cea", "_SUCCESS"))
    assert not os.path.exists(os.path.join(ck1, "triples"))

    # …then resume: completed stages must be read, not recomputed.
    # cea is resumed, so its operator must not run — observable as the
    # killed run's cea_linked barrier in the checkpoint dir left as it
    # was, not written again.
    linked = os.path.join(ck1, "cea_linked", "_SUCCESS")
    stamp = os.stat(linked).st_mtime_ns
    resumed = run_pipeline(spark, dfs, checkpoint_dir=ck1, resume=True)
    got = _triples(resumed.stages["triples"])
    assert got == want
    assert os.stat(linked).st_mtime_ns == stamp

    manifest = json.load(open(os.path.join(ck1, "manifest.json")))
    by_stage = {m["stage"]: m for m in manifest["metrics"]}
    assert by_stage["cea"]["resumed"] is True
    assert by_stage["cells_m"]["resumed"] is True
    assert by_stage["triples"]["resumed"] is False
    # per-partition lineage recorded (A9 metrics role)
    assert by_stage["triples"]["partitions"]


def test_sha_integrity_metric_recorded(spark, dfs, tmp_path):
    ck = str(tmp_path / "ck_sha")
    run_pipeline(spark, dfs, checkpoint_dir=ck, stop_after="cells")
    manifest = json.load(open(os.path.join(ck, "manifest.json")))
    sha = [m for m in manifest["metrics"] if m["stage"] == "sha_integrity"]
    assert sha and sha[0]["mismatches"] == 0


@pytest.fixture(scope="module")
def clean_triples(spark, dfs, tmp_path_factory):
    ck = str(tmp_path_factory.mktemp("ck_clean"))
    return _triples(run_pipeline(spark, dfs, checkpoint_dir=ck).stages["triples"])


@pytest.mark.parametrize("stage", STAGES)
def test_resume_after_every_stage(spark, dfs, tmp_path, clean_triples, stage):
    """A kill at any stage boundary resumes to the clean run's triples."""
    ck = str(tmp_path / "ck")
    run_pipeline(spark, dfs, checkpoint_dir=ck, stop_after=stage)
    resumed = run_pipeline(spark, dfs, checkpoint_dir=ck)
    assert _triples(resumed.stages["triples"]) == clean_triples


def test_resume_after_kill_inside_cea(spark, dfs, tmp_path, clean_triples):
    """A kill after cea's internal cea_linked barrier was written but
    before cea completed: the resume writes that barrier again over
    the old one and recomputes cea and every stage after it."""
    ck = str(tmp_path / "ck")
    run_pipeline(spark, dfs, checkpoint_dir=ck)
    for name in STAGES[STAGES.index("cea"):]:
        shutil.rmtree(os.path.join(ck, name))
    assert os.path.exists(os.path.join(ck, "cea_linked", "_SUCCESS"))
    resumed = run_pipeline(spark, dfs, checkpoint_dir=ck)
    assert _triples(resumed.stages["triples"]) == clean_triples
