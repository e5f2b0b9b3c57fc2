"""North-rule packaging surface: the pipeline runs end-to-end via
``spark-submit --py-files tds.zip`` with the package resolved from the
zip, not a repo checkout (BASELINE.json north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

The entry script is copied OUTSIDE the repo so the package import can
only be satisfied by the --py-files zip; fixture mode must emit the
same 4,136 canonical triples the golden tests pin, on the job's
session settings. The zip serves the
driver only: no stage of the job runs Python on an executor
(tests/test_python_boundaries.py), so no worker imports the package.
"""

import json
import shutil
import subprocess
import zipfile
from pathlib import Path

import pyarrow.parquet as pq
import pytest

REPO = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files_fixture_run(tmp_path):
    zip_path = tmp_path / "tds.zip"
    pkg = REPO / "tabular_data_semantics_py_spark"
    with zipfile.ZipFile(zip_path, "w") as z:
        for p in pkg.rglob("*.py"):
            z.write(p, p.relative_to(REPO).as_posix())

    # copy the entry script out of the repo: its repo-checkout import
    # fallback must not fire, so the package comes from the zip alone
    script = tmp_path / "run_pipeline.py"
    script.write_text((REPO / "scripts" / "run_pipeline.py").read_text())

    out_dir = tmp_path / "kg_out"
    res = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[8]",
            "--py-files", str(zip_path),
            str(script),
            "--out", str(out_dir),
        ],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    payload = json.loads(line)
    # the job's settings, read back from the submitted session: a
    # shuffle partition per task slot of local[8], plans interpreted
    assert (payload["shuffle_partitions"], payload["factoryMode"]) == (
        8, "NO_CODEGEN")
    assert payload["triples"] == 4136
    assert pq.read_table(out_dir / "triples").num_rows == 4136
    # lineage: the row count of every part file of the four barriers
    manifest = json.loads((out_dir / "manifest.json").read_text())
    lineage = {m["stage"]: m for m in manifest["metrics"] if "files" in m}
    assert sorted(lineage) == ["cea", "cea_linked", "cells", "entity_types"]
    for name, m in lineage.items():
        assert m["files"] == {
            f.name: pq.read_metadata(f).num_rows
            for f in (out_dir / name).glob("part-*")
        }
        assert sum(m["files"].values()) == m["rows"]
