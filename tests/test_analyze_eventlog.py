"""scripts/analyze_eventlog.py on a synthetic event log (no Spark)."""

import importlib.util
import json
from pathlib import Path

_SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "analyze_eventlog.py"


def _load():
    spec = importlib.util.spec_from_file_location("analyze_eventlog", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


T0 = 1_760_000_000_000  # epoch milliseconds


def _job(jid: int, start: int, end: int, desc: str | None,
         tasks: int = 1) -> list[dict]:
    """One job of one stage whose ``tasks`` tasks share 0.5 CPU-s."""
    start, end = T0 + start, T0 + end
    props = {} if desc is None else {"spark.job.description": desc}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": jid,
            "Task Info": {"Launch Time": start, "Finish Time": end},
            "Task Metrics": {"Executor CPU Time": 500_000_000 // tasks,
                             "JVM GC Time": 10}}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": start, "Stage IDs": [jid], "Properties": props},
        *[task] * tasks,
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": end},
    ]


EVENTS = (
    [{"Event": "SparkListenerApplicationStart", "Timestamp": T0}]
    + _job(0, 100, 600, "tds:cells", tasks=4)
    + _job(1, 700, 900, "tds:cells", tasks=2)
    + _job(2, 1000, 1500, None)
    + _job(3, 1600, 2000, "tds:candidates", tasks=5)
    + [{"Event": "SparkListenerApplicationEnd", "Timestamp": T0 + 2100}]
)


def _check(summary: dict) -> None:
    assert summary["jobs_by_desc"] == {
        "<none>": 1, "tds:candidates": 1, "tds:cells": 2,
    }
    assert summary["tasks_by_desc"] == {
        "<none>": 1, "tds:candidates": 5, "tds:cells": 6,
    }
    assert summary["cpu_s"] == 2.0
    assert summary["driver_gap_s"] == 0.4


def test_counts_jobs_per_description(tmp_path, capsys, monkeypatch):
    log = tmp_path / "app-1"
    log.write_text("".join(json.dumps(e) + "\n" for e in EVENTS))

    mod = _load()
    summary = mod.analyze(str(log))
    _check(summary)

    monkeypatch.setattr(mod.sys, "argv", ["analyze_eventlog.py", str(tmp_path)])
    mod.main()
    printed = json.loads(capsys.readouterr().out.splitlines()[0])
    assert printed["jobs_by_desc"] == summary["jobs_by_desc"]
    assert printed["tasks_by_desc"] == summary["tasks_by_desc"]


def test_reads_a_rolling_log_as_one_application(tmp_path, capsys,
                                                monkeypatch):
    """Spark 4's default rolling log is a directory of numbered parts;
    one event a part puts ``events_10_*`` before ``events_2_*`` in name
    order, so only reading the parts by number keeps each job's start
    ahead of its tasks."""
    app = "local-1760000000000"
    log = tmp_path / f"eventlog_v2_{app}"
    log.mkdir()
    (log / f"appstatus_{app}").write_text("")
    for n, event in enumerate(EVENTS, 1):
        (log / f"events_{n}_{app}").write_text(json.dumps(event) + "\n")
    assert len(EVENTS) > 10

    mod = _load()
    _check(mod.analyze(str(log)))
    for target in (log, tmp_path):  # the log, or a directory of logs
        monkeypatch.setattr(mod.sys, "argv",
                            ["analyze_eventlog.py", str(target)])
        mod.main()
        out = capsys.readouterr().out.splitlines()
        assert len([line for line in out if line.startswith("{")]) == 1
        _check(json.loads(out[0]))
