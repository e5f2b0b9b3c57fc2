"""North-rule packaging surface: the pipeline runs end-to-end via
``spark-submit --py-files tds.zip`` with the package resolved from the
zip, not a repo checkout (BASELINE.json north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

The entry script is copied OUTSIDE the repo so the package import can
only be satisfied by the --py-files zip; fixture mode must emit the
same 4,136 canonical triples the golden tests pin.
"""

import json
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = shutil.which("spark-submit")

# Driver started OUTSIDE the repo root, package imported via a driver-
# side sys.path insert only (what pytest-from-tests/ or a notebook
# does). Python workers do not inherit driver sys.path mutations —
# only get_spark's PYTHONPATH propagation (_ensure_worker_import_path)
# lets them deserialize by-reference-pickled closures; without it the
# collect dies with ModuleNotFoundError at read_udfs on the worker.
_CWD_INDEPENDENCE_SCRIPT = """\
import sys
sys.path.insert(0, {repo!r})
from tabular_data_semantics_py_spark.session import get_spark
from tabular_data_semantics_py_spark.sources.csv_cells import parse_cells
spark = get_spark(app_name="cwd-independence", master="local[2]",
                  shuffle_partitions=2)
artifacts = spark.createDataFrame(
    [("t", "r", "t.csv", "c0", "a,b,c\\n1,2,3\\n4,5,6\\n")],
    "table_id string, repo string, path string, commit string, content string",
)
# parse_cells' mapInPandas function is pickled by reference, so the
# worker must import the package to run it
rows = parse_cells(artifacts).collect()
assert len(rows) == 9, rows
assert sorted(r.cell for r in rows) == list("123456abc"), rows
print("CWD_INDEPENDENT_OK", len(rows))
spark.stop()
"""


def test_worker_import_path_independent_of_cwd(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(_CWD_INDEPENDENCE_SCRIPT.format(repo=str(REPO)))
    env = {
        k: v
        for k, v in __import__("os").environ.items()
        if k != "PYTHONPATH"
    }
    # the probe's JVM runs beside the suite's session JVM; get_spark's
    # driver heap grows on demand up to 8 GiB by default, and two such
    # heaps growing side by side may still exceed a 16 GiB host, where
    # the OOM killer then takes the suite's session and fails every
    # later Spark test
    env["SPARK_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,  # nothing import-relevant in the worker cwd
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "CWD_INDEPENDENT_OK 9" in res.stdout


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
    assert payload["triples"] == 4136
    manifest = json.loads((out_dir / "manifest.json").read_text())
    assert {m["stage"] for m in manifest["metrics"]} >= {
        "cells", "candidates", "cea", "cta", "cpa", "triples"
    }
