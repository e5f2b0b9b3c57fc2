"""The traced run: layer spans recorded from outside the program.

The benchmark calls each layer's public function itself, in pipeline
order, materializes every output through ``barriers.parquet_barrier``
and records a span (start, end, parent, rows in/out) around the call.
Each span's Spark jobs carry the job description ``kgbench:<layer>``;
task, CPU, GC, shuffle and spill figures per span come from the Spark
event log the session writes when ``SPARK_GRAFT_EVENTLOG_DIR`` is set.
"""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import asdict, dataclass
from pathlib import Path
from urllib.parse import urlparse

LAYERS = ["closure", "sources", "candidates", "entity_types", "cea", "cta",
          "cpa", "emit"]

SPAN_METRICS = ["busy_s", "rows_out", "task_s", "cpu_s", "gc_s",
                "shuffle_write_mb", "spill_mb", "tasks", "task_skew"]


@dataclass
class Span:
    name: str
    id: int
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    rows_in: int = 0
    rows_out: int = 0

    @property
    def busy_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; ``dump`` writes them out at the end."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []

    def open(self, name: str, parent: Span | None = None,
             rows_in: int = 0) -> Span:
        self.sc.setJobDescription(f"kgbench:{name}")
        span = Span(name, len(self.spans), parent.id if parent else None,
                    time.time(), rows_in=rows_in)
        self.spans.append(span)
        return span

    def close(self, span: Span, rows_out: int = 0) -> None:
        span.end = time.time()
        span.rows_out = rows_out
        self.sc.setJobDescription(None)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans], indent=1))


def _files(df) -> list[str]:
    return [urlparse(f).path for f in df.inputFiles()]


def parquet_rows(df) -> int:
    """Row count of a parquet-backed DataFrame, read from the file
    footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in _files(df))


def traced_op(spark, dfs, tracer: Tracer):
    """Run the pipeline layer by layer. Returns (wall seconds, triples
    DataFrame, {name: rows})."""
    from tabular_data_semantics_py_spark.barriers import parquet_barrier
    from tabular_data_semantics_py_spark.constants import AGENT_CLASS
    from tabular_data_semantics_py_spark.operators import annotate
    from tabular_data_semantics_py_spark.operators.candidates import (
        generate_candidates,
    )
    from tabular_data_semantics_py_spark.operators.closure import (
        build_closure,
        closure_to_map,
    )
    from tabular_data_semantics_py_spark.operators.emit import (
        build_rows_present,
        emit_triples,
    )
    from tabular_data_semantics_py_spark.operators.types_cascade import (
        build_entity_types,
        make_most_specific_udf,
    )
    from tabular_data_semantics_py_spark.sources.csv_cells import (
        data_cells,
        parse_cells,
    )
    from tabular_data_semantics_py_spark.sources.repo_source import (
        discover_csv_artifacts,
    )

    rows: dict[str, int] = {}

    def layer(name: str, rows_in: int, fn):
        span = tracer.open(name, root, rows_in)
        out = fn()
        first = out[0] if isinstance(out, tuple) else out
        rows[name] = parquet_rows(first)
        tracer.close(span, rows[name])
        return out

    t0 = time.perf_counter()
    root = tracer.open("traced_op")
    n_src = parquet_rows(dfs["source_repos"])

    def _closure():
        df = parquet_barrier(build_closure(dfs["ontology_edges"],
                                           dfs["ontology_equivalent"]),
                             "closure")
        return df, closure_to_map(df)

    closure, closure_map = layer("closure", 0, _closure)
    cells = layer("sources", n_src, lambda: parquet_barrier(
        parse_cells(discover_csv_artifacts(dfs["source_repos"])), "cells"))

    def _candidates():
        cells_m, cand = generate_candidates(
            data_cells(cells), dfs["entity_index"], fused=True)
        return (parquet_barrier(cand, "candidates"),
                parquet_barrier(cells_m, "cells_m"))

    cand, cells_m = layer("candidates", rows["sources"], _candidates)
    entity_types = layer("entity_types", parquet_rows(dfs["entity_index"]),
                         lambda: parquet_barrier(build_entity_types(
                             dfs["entity_index"], dfs["kg_triples"],
                             dfs["property_meta"], closure, closure_map),
                             "entity_types"))
    cea = layer("cea", rows["candidates"], lambda: parquet_barrier(
        annotate.cea(cells_m, cand, entity_types), "cea"))
    ms_udf = make_most_specific_udf(closure_map, AGENT_CLASS)
    cta = layer("cta", rows["cea"], lambda: parquet_barrier(
        annotate.cta(cea, entity_types, ms_udf, closure), "cta"))
    layer("cpa", rows["cea"], lambda: parquet_barrier(
        annotate.cpa(cea, dfs["kg_triples"]), "cpa"))

    def _emit():
        rows_present = build_rows_present(cells)
        return parquet_barrier(
            emit_triples(cells, cea, cta, rows_present=rows_present),
            "triples")

    triples = layer("emit", rows["sources"] + rows["cea"] + rows["cta"], _emit)
    tracer.close(root, rows["emit"])
    wall = time.perf_counter() - t0

    # useful-to-attempted ratios, counted where the work happened
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    mentions = pq.read_table(_files(cells_m),
                             columns=["mention_norm"])["mention_norm"]
    rows["data_cells"] = len(mentions)
    rows["mentions"] = pc.count_distinct(
        pc.filter(mentions, pc.not_equal(mentions, ""))).as_py()
    return wall, triples, rows


# --- event log ----------------------------------------------------------------


@dataclass
class Task:
    job: int
    launch_ms: int
    finish_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int


def read_eventlog(eventlog_dir: Path) -> tuple[dict, list[Task]]:
    """(jobs, tasks) of the single application logged in the dir.
    jobs: id → {start_ms, end_ms, desc}."""
    (path,) = [p for p in eventlog_dir.iterdir() if not p.name.startswith(".")]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[Task] = []
    with open(path) as f:
        for line in f:
            if line.startswith('{"Event":"SparkListenerTaskEnd"'):
                ev = json.loads(line)
                job = stage_job.get(ev["Stage ID"])
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                if job is None or not m:
                    continue
                tasks.append(Task(
                    job, info["Launch Time"], info["Finish Time"],
                    m["Executor CPU Time"], m["JVM GC Time"],
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                    m["Disk Bytes Spilled"],
                ))
            elif line.startswith('{"Event":"SparkListenerJobStart"'):
                ev = json.loads(line)
                jobs[ev["Job ID"]] = {
                    "start_ms": ev["Submission Time"], "end_ms": None,
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description"),
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif line.startswith('{"Event":"SparkListenerJobEnd"'):
                ev = json.loads(line)
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
    return jobs, tasks


def task_figures(job_ids: set[int], tasks: list[Task]) -> dict:
    """Executor figures over the tasks of ``job_ids``."""
    mine = [t for t in tasks if t.job in job_ids]
    durations = [(t.finish_ms - t.launch_ms) / 1000 for t in mine]
    med = statistics.median(durations) if durations else 0.0
    return {
        "task_s": sum(durations),
        "cpu_s": sum(t.cpu_ns for t in mine) / 1e9,
        "gc_s": sum(t.gc_ms for t in mine) / 1000,
        "shuffle_write_mb": sum(t.shuffle_write_bytes for t in mine) / 2**20,
        "spill_mb": sum(t.spill_bytes for t in mine) / 2**20,
        "tasks": len(mine),
        "task_skew": max(durations) / med if med > 0 else 0.0,
    }


def jobs_in_window(jobs: dict, start: float, end: float) -> set[int]:
    """Jobs submitted inside [start, end] (epoch seconds)."""
    lo, hi = start * 1000, end * 1000
    return {j for j, v in jobs.items() if lo <= v["start_ms"] <= hi}


def driver_gap_s(jobs: dict, job_ids: set[int], start: float,
                 end: float) -> float:
    """Wall time in [start, end] during which no Spark job ran."""
    lo, hi = start * 1000, end * 1000
    intervals = sorted(
        (max(lo, jobs[j]["start_ms"]), min(hi, jobs[j]["end_ms"] or hi))
        for j in job_ids
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in intervals:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(0.0, (hi - lo) - covered) / 1000


def layer_metrics(tracer: Tracer, jobs: dict, tasks: list[Task]) -> dict:
    """``<layer>.<metric>`` for every traced layer span."""
    out: dict[str, float] = {}
    for span in tracer.spans:
        if span.name not in LAYERS:
            continue
        ids = {j for j, v in jobs.items()
               if v["desc"] == f"kgbench:{span.name}"}
        figures = {"busy_s": span.busy_s, "rows_out": span.rows_out,
                   **task_figures(ids, tasks)}
        for metric in SPAN_METRICS:
            out[f"{span.name}.{metric}"] = figures[metric]
    return out

