"""Summarize a Spark event log: per-job wall, task time, CPU, GC,
the driver-side gaps between jobs, and the number of jobs and of tasks
per job description (``jobs_by_desc``, ``tasks_by_desc``;
``tds:<stage>`` for the pipeline's stages, ``<none>`` for a job
without one).

Usage: python scripts/analyze_eventlog.py <eventlog-file-or-dir>

A directory is either one rolling event log (Spark 4's default,
``eventlog_v2_<app>/`` holding ``events_<n>_<app>`` parts, read in
order as one application) or a directory of event logs, each a file
or a rolling log.

Comparing the logs of two commits on one corpus shows where a change
moved work: more tasks under one ``tds:<stage>`` is a stage split
finer (a partitioning or split-size change), more jobs a new action
or barrier, and a longer ``driver_gap_s`` more serial driver time
(planning, barrier bookkeeping, Python driver code). Produce the logs
by running any job with SPARK_GRAFT_EVENTLOG_DIR=<dir> (session.py
hook).
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter, defaultdict


def _is_rolling(directory: str) -> bool:
    return any(f.startswith("events_") for f in os.listdir(directory))


def _lines(path: str):
    """The lines of one application's event log: a file, or the
    ``events_<n>_<app>`` parts of a rolling log in order of ``n``."""
    if not os.path.isdir(path):
        yield from open(path)
        return
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    for part in sorted(parts, key=lambda f: int(f.split("_")[1])):
        yield from open(os.path.join(path, part))


def analyze(path: str) -> dict:
    jobs: dict[int, dict] = {}
    stage_to_job: dict[int, int] = {}
    per_job = defaultdict(lambda: {"task_ms": 0, "cpu_ms": 0, "gc_ms": 0,
                                   "tasks": 0})
    app_start = app_end = None
    for line in _lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        t = ev.get("Event")
        if t == "SparkListenerApplicationStart":
            app_start = ev["Timestamp"]
        elif t == "SparkListenerApplicationEnd":
            app_end = ev["Timestamp"]
        elif t == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "start": ev["Submission Time"],
                "end": None,
                "desc": (ev.get("Properties") or {}).get(
                    "spark.job.description"
                ) or "<none>",
            }
            for sid in ev.get("Stage IDs", []):
                stage_to_job[sid] = jid
        elif t == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif t == "SparkListenerTaskEnd":
            jid = stage_to_job.get(ev["Stage ID"])
            if jid is None:
                continue
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            agg = per_job[jid]
            agg["tasks"] += 1
            agg["task_ms"] += (info.get("Finish Time", 0)
                               - info.get("Launch Time", 0))
            agg["cpu_ms"] += m.get("Executor CPU Time", 0) // 1_000_000
            agg["gc_ms"] += m.get("JVM GC Time", 0)

    rows = []
    prev_end = app_start
    gap_total = 0
    for jid in sorted(jobs):
        j = jobs[jid]
        if j["end"] is None:
            continue
        gap = max(0, j["start"] - prev_end) if prev_end else 0
        gap_total += gap
        agg = per_job[jid]
        rows.append(
            {
                "job": jid,
                "desc": j["desc"][:48],
                "wall_s": round((j["end"] - j["start"]) / 1000, 2),
                "gap_before_s": round(gap / 1000, 2),
                "task_s": round(agg["task_ms"] / 1000, 1),
                "cpu_s": round(agg["cpu_ms"] / 1000, 1),
                "gc_s": round(agg["gc_ms"] / 1000, 1),
                "tasks": agg["tasks"],
            }
        )
        prev_end = j["end"]
    tasks_by_desc: Counter = Counter()
    for jid, j in jobs.items():
        tasks_by_desc[j["desc"]] += per_job[jid]["tasks"]
    total_wall = ((app_end or prev_end) - app_start) / 1000 if app_start else 0
    return {
        "file": os.path.basename(path),
        "app_wall_s": round(total_wall, 1),
        "job_wall_s": round(sum(r["wall_s"] for r in rows), 1),
        "driver_gap_s": round(gap_total / 1000, 1),
        "task_s": round(sum(r["task_s"] for r in rows), 1),
        "cpu_s": round(sum(r["cpu_s"] for r in rows), 1),
        "gc_s": round(sum(r["gc_s"] for r in rows), 1),
        "jobs_by_desc": dict(sorted(
            Counter(j["desc"] for j in jobs.values()).items())),
        "tasks_by_desc": dict(sorted(tasks_by_desc.items())),
        "jobs": rows,
    }


def main() -> None:
    target = sys.argv[1]
    files = (
        [os.path.join(target, f) for f in sorted(os.listdir(target))
         if not f.startswith(".")]
        if os.path.isdir(target) and not _is_rolling(target)
        else [target]
    )
    for f in files:
        s = analyze(f)
        top = sorted(s["jobs"], key=lambda r: -r["wall_s"])[:8]
        print(json.dumps({k: v for k, v in s.items() if k != "jobs"}))
        for r in top:
            print("  ", json.dumps(r))


if __name__ == "__main__":
    main()
