"""The benchmark's own tests: the output contract on a tiny corpus for
both workloads, the correctness gate, traced ≡ untraced triples, and
refusal to run outside a checkout.

    python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(REPO))

from kgbench import harness, run  # noqa: E402

SPEC = json.loads((REPO / "BENCHMARK.json").read_text())
TINY = ["--shape", "12x12", "--seconds", "1"]


def _bench(workload: str, *args: str,
           cwd: Path = REPO) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", workload,
         "--seed", "3", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, report, result = proc.stdout.strip().splitlines()
    return json.loads(report)["report"], json.loads(result)


def _assert_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    assert printed == {m["name"]: m["unit"] for m in spec}
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name


def test_spec_matches_the_metrics_the_runner_prints():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(harness.WORKLOADS)


@pytest.mark.parametrize("workload", list(harness.WORKLOADS))
def test_tiny_run_prints_every_end_to_end_metric(workload):
    report, result = _result(_bench(workload, "--trace", "0", *TINY))
    _assert_metrics(result, SPEC["end_to_end"])
    metrics = result["metrics"]
    assert metrics["triples_min_pr"]["value"] == 1.0
    assert all(m["value"] > 0 for m in metrics.values())
    waves = harness.WORKLOADS[workload].waves
    gated = {"triples"} if waves else {"cea", "cta", "cpa", "triples"}
    assert report["min_pr"] == {k: 1.0 for k in gated}
    assert report["sha_mismatches"] == 0 and report["failed_frac"] == 0.0
    # an arrival sequence gates each wave's drain and the empty drain
    assert result["attempted"] == (waves + 1 if waves else 1)
    assert report["nproc"] == harness.nproc()
    assert set(report["versions"]) >= {"spark", "java", "pandas", "pyarrow"}


def test_traced_run_matches_untraced_and_prints_every_layer_metric():
    report, result = _result(_bench("kg_incremental", "--trace", "1", *TINY))
    _assert_metrics(result, SPEC["per_layer"])
    assert report["traced_matches_untraced"] is True
    m = result["metrics"]
    assert m["emit.rows_out"]["value"] == report["corpus"]["triples"]
    assert m["pipeline.jobs"]["value"] > 0
    assert m["ingest.sink_files"]["value"] > 0


@pytest.fixture(scope="module")
def gold():
    from tabular_data_semantics_py_spark.fixtures.generator import make_corpus
    from tabular_data_semantics_py_spark.fixtures.oracle import build_gold

    g = build_gold(make_corpus(n_tables=8, entities_per_class=8, seed=5))
    return harness.Gold(cea=set(g.cea), cta=set(g.cta), cpa=set(g.cpa),
                        triples=set(g.triples), data_cells=len(g.cells))


def test_one_dropped_triple_fails_the_gate(gold):
    tally = harness.Tally()
    assert tally.record(harness.judge({"triples": set(gold.triples)}, gold))
    dropped = set(gold.triples)
    dropped.pop()
    verdict = harness.judge({"triples": dropped}, gold)
    assert not tally.record(verdict)
    assert tally.worst_pr["triples"] < 1.0
    assert tally.failed_frac > 0


def test_sha_mismatch_or_error_fails_the_gate(gold):
    assert not harness.judge({"cea": gold.cea}, gold, sha_bad=1).ok
    assert not harness.failed_verdict(RuntimeError("boom")).ok


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(REPO / "kgbench", tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _bench("kg_large_index", "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
