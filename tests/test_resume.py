"""Checkpoint/resume: kill at a stage boundary, resume, identical
output (BASELINE.md resumability row; reference semantics S11 —
incremental JSON dumps, validate_sampling.py:158-216)."""

import json
import os

from tabular_data_semantics_py_spark.plans.pipeline import run_pipeline


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
    # cea is resumed, so its operator must not run — observable as no
    # new cea_linked barrier generation in session scratch.
    from tabular_data_semantics_py_spark.barriers import _scratch_dir

    def _cea_gens():
        d = _scratch_dir(spark)
        if not os.path.isdir(d):
            return 0
        return sum(
            1 for n in os.listdir(d)
            if n.startswith("cea_linked")
        )

    gens_before = _cea_gens()
    assert gens_before > 0  # the killed run's cea wrote its barriers
    resumed = run_pipeline(spark, dfs, checkpoint_dir=ck1, resume=True)
    got = _triples(resumed.stages["triples"])
    assert got == want
    assert _cea_gens() == gens_before

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
