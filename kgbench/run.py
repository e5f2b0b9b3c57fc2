#!/usr/bin/env python3
"""KG-construction benchmark: one table→KG job at a time on a seeded
fixture corpus, every operation gated on the plain-Python oracle.

    python3 kgbench/run.py --workload kg_large_index --seed 1 --seconds 1 --trace 0

Run from the repository root. ``--trace 0`` times whole operations (a
batch pipeline run, or a sequence of arrival waves) and prints the
end-to-end metrics; ``--trace 1`` also runs the layers one by one with
spans and prints the per-layer metrics (kgbench/README.md). The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is a JSON
report of the environment, inputs and samples.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from kgbench import harness  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "ref_cpu_s": "ref_s",
    "peak_rss_mb": "MiB",
    "triples_min_pr": "ratio",
}

_SPAN_UNITS = {
    "busy_s": "s", "rows_out": "rows", "task_s": "s", "cpu_s": "s",
    "gc_s": "s", "shuffle_write_mb": "MiB", "spill_mb": "MiB",
    "tasks": "count", "task_skew": "ratio",
}
PER_LAYER = {
    **{
        f"{layer}.{metric}": unit
        for layer in ("closure", "sources", "candidates", "entity_types",
                      "cea", "cta", "cpa", "emit")
        for metric, unit in _SPAN_UNITS.items()
    },
    "candidates.mention_dedup_ratio": "ratio",
    "candidates.per_mention": "ratio",
    "cea.linked_ratio": "ratio",
    "emit.triples_per_cell": "ratio",
    "barriers.generations": "count",
    "barriers.write_mb": "MiB",
    "pipeline.jobs": "count",
    "pipeline.driver_gap_s": "s",
    "pipeline.overlap_s": "s",
    "ingest.empty_drain_s": "s",
    "ingest.sink_mb": "MiB",
    "ingest.sink_files": "count",
    "tracing_overhead_s": "s",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(harness.WORKLOADS))
    p.add_argument("--seed", type=int, default=harness.DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=1.0,
                   help="keep starting timed operations until this much "
                        "measuring time has passed (at least one runs)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--shape", type=harness.Shape.parse, default=None,
                   help="override the workload's corpus shape, "
                        "TABLESxENTITIES (for quick checks)")
    return p.parse_args(argv)


@dataclass
class Op:
    """One gated pipeline run."""

    wall: float | None  # None when the run raised
    cpu: float | None  # CPU seconds of the session's processes
    ok: bool
    triples: set
    window: tuple[float, float]  # epoch seconds
    generations: int  # stage-barrier directories it created
    barrier_mb: float


@dataclass
class Arrivals:
    """One gated arrival sequence: each wave's drain, then an empty one."""

    latencies: list[float | None]  # per drain; None when it raised
    cpus: list[float]  # per drain, CPU seconds of the session's processes
    windows: list[tuple[float, float]]  # per drain, epoch seconds
    ok: bool
    sink_mb: float
    sink_files: int


class Run:
    """One benchmark invocation: a Spark session, its inputs, the tally."""

    def __init__(self, args: argparse.Namespace, run_dir: Path):
        self.args = args
        workload = harness.WORKLOADS[args.workload]
        self.shape = args.shape or workload.shape
        self.waves = workload.waves
        self.run_dir = run_dir
        self.tally = harness.Tally()
        self.gate_s = 0.0  # the benchmark's own checking time, untimed
        self.report: dict = {
            "workload": args.workload, "seed": args.seed,
            "seed_role": {harness.DEFAULT_SEED: "default",
                          harness.HELD_OUT_SEED: "held_out"}.get(
                              args.seed, "other"),
            "shape": str(self.shape), "waves": self.waves,
            "nproc": harness.nproc(),
            "master": f"local[{harness.task_slots()}]",
            "driver_heap_mb": harness.driver_heap_mb(),
            "load": "closed loop, one driver process, one job in flight",
        }

    def batch_op(self) -> Op:
        """One ``harness.batch_op``, gated after its timer stops. A run
        that raises or fails the gate counts as failed and is never
        timed as a success."""
        from tabular_data_semantics_py_spark.barriers import (
            clear_scratch,
            list_generations,
        )

        out = self.run_dir / "triples"
        before = list_generations(self.spark)
        harness.collect_heaps(self.spark)
        w0, c0 = time.time(), self.cpu_s()
        wall, cpu, triples, ok = None, None, set(), False
        try:
            wall, res = harness.batch_op(self.spark, self.dfs, out)
            w1, cpu = time.time(), self.cpu_s() - c0
            generations = list_generations(self.spark) - before
            barrier_mb = sum(harness.dir_bytes(Path(g))
                             for g in generations) / 2**20
            g0 = time.perf_counter()
            verdict, triples = harness.check_batch(res, out, self.gold)
            self.gate_s += time.perf_counter() - g0
            ok = self.tally.record(verdict)
            del res
        except Exception as exc:  # a failed operation counts, never aborts
            w1, generations, barrier_mb = time.time(), set(), 0.0
            self.tally.record(harness.failed_verdict(exc))
        finally:
            clear_scratch(self.spark)
            shutil.rmtree(out, ignore_errors=True)
        return Op(wall, cpu, ok, triples, (w0, w1), len(generations),
                  barrier_mb)

    def arrivals_op(self, n_waves: int) -> Arrivals:
        """Land the corpus's source files as ``n_waves`` equal waves, drain
        each with one ``stream_kg_triples`` call into a fresh graph sink,
        then drain once more with nothing new. Gated after the last
        drain; a wrong sink fails every drain of the sequence, a drain
        that raised fails itself."""
        from tabular_data_semantics_py_spark.barriers import clear_scratch

        base = self.run_dir / "ingest"
        stream_dir, sink, ckpt = (base / d for d in ("arrivals", "graph", "ck"))
        stream_dir.mkdir(parents=True)
        static = {k: v for k, v in self.dfs.items() if k != "source_repos"}
        latencies, cpus, windows, errors = [], [], [], []
        try:
            for n, rows in enumerate([*harness.split_waves(self.corpus,
                                                           n_waves), None]):
                if rows is not None:
                    harness.land_wave(rows, stream_dir, f"wave_{n}")
                harness.collect_heaps(self.spark)
                w0, c0 = time.time(), self.cpu_s()
                try:
                    latencies.append(harness.drain(self.spark, stream_dir,
                                                   static, sink, ckpt))
                    errors.append(None)
                except Exception as exc:
                    latencies.append(None)
                    errors.append(harness.failed_verdict(exc))
                cpus.append(self.cpu_s() - c0)
                windows.append((w0, time.time()))
            g0 = time.perf_counter()
            try:
                verdict = harness.check_ingest(self.spark, stream_dir, sink,
                                               self.gold)
            except Exception as exc:
                verdict = harness.failed_verdict(exc)
            self.gate_s += time.perf_counter() - g0
            oks = [self.tally.record(err or verdict) for err in errors]
            files = list(sink.rglob("*.parquet"))
            return Arrivals(latencies, cpus, windows, all(oks),
                            sum(f.stat().st_size for f in files) / 2**20,
                            len(files))
        finally:
            clear_scratch(self.spark)
            shutil.rmtree(base, ignore_errors=True)

    def cpu_s(self) -> float:
        return harness.session_cpu_s(self.jvm_pid)

    def setup(self) -> None:
        """Session start (JVM launch, heap pre-touch) and corpus load."""
        from pyspark import SparkContext
        from tabular_data_semantics_py_spark.session import get_spark
        from tabular_data_semantics_py_spark.sources.repo_source import (
            load_or_build_corpus_dfs,
        )

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"kgbench-{self.args.workload}",
                               master=self.report["master"])
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.dfs = load_or_build_corpus_dfs(
            self.spark, self.shape.n_tables, self.shape.entities_per_class,
            seed=self.args.seed,
        )
        self.setup_s = time.perf_counter() - t0
        self.report["versions"] = harness.versions(self.spark)
        self.report["setup_s"] = self.setup_s

    def measure(self) -> dict:
        """Closed loop of gated operations for ``--seconds``: batch
        pipeline runs, or arrival sequences. The first is the session's
        first, as a submitted job runs it: JIT and worker warm-up are
        part of its cost. The gated cost is CPU seconds at the reference
        core speed; wall-clock figures go to the report
        (kgbench/README.md says why)."""
        walls: list[float] = []
        cpus: list[float] = []
        waves: list[float] = []
        with harness.Sampler() as sampler:
            t0 = time.perf_counter()
            while True:
                if self.waves:
                    seq = self.arrivals_op(self.waves)
                    if seq.ok:
                        walls.append(sum(seq.latencies))
                        cpus.append(sum(seq.cpus))
                        waves.extend(seq.latencies[:-1])
                else:
                    op = self.batch_op()
                    if op.ok:  # the whole corpus lands as one wave
                        walls.append(op.wall)
                        cpus.append(op.cpu)
                        waves.append(op.wall)
                if time.perf_counter() - t0 >= self.args.seconds:
                    break
        speed = harness.REF_LOOP_S / sampler.loop_s
        cells = self.gold.data_cells
        self.report.update(
            wall_s=harness.timing_summary(walls) if walls else None,
            cells_per_s=[cells / w for w in walls],
            wave_latency_s=waves,
            cpu_s=cpus,
            reference_loop_s=sampler.loop_s,
        )
        return {
            "setup_s": self.setup_s,
            "ref_cpu_s": statistics.median(cpus) * speed if cpus else 0.0,
            "peak_rss_mb": sampler.peak_mb,
            "triples_min_pr": self.tally.worst_pr.get("triples", 0.0),
        }

    def trace(self) -> dict:
        """The arrival sequence (its first wave is the session's first,
        cold, pipeline run; a batch workload's corpus arrives as one
        wave), an untraced batch run, a traced layer-by-layer run, then
        per-layer figures from the event log. Both batch runs are warm,
        so the tracing overhead compares like with like."""
        from tabular_data_semantics_py_spark.barriers import clear_scratch

        from kgbench import tracing

        seq = self.arrivals_op(self.waves or 1)
        untraced = self.batch_op()

        # traced run: its triples must equal the untraced run's
        tracer = tracing.Tracer(self.spark)
        traced_wall, triples_df, rows = tracing.traced_op(
            self.spark, self.dfs, tracer)
        traced = harness.arrow_tuples(
            triples_df.select(*harness.TRIPLE_COLS).toArrow(),
            harness.TRIPLE_COLS)
        verdict = harness.judge({"triples": traced}, self.gold)
        if traced != untraced.triples:
            verdict.error = "traced triples differ from the untraced run's"
        self.tally.record(verdict)
        self.report["traced_matches_untraced"] = traced == untraced.triples
        clear_scratch(self.spark)

        self.spark.stop()  # flushes and closes the event log
        jobs, tasks = tracing.read_eventlog(self.run_dir / "eventlog")
        metrics = tracing.layer_metrics(tracer, jobs, tasks)
        # the pipeline figures cover the workload's own warm operation:
        # the last wave, or the untraced batch run
        window = seq.windows[-2] if self.waves else untraced.window
        pipeline_jobs = tracing.jobs_in_window(jobs, *window)
        wall = untraced.wall or 0.0
        cells = rows["data_cells"]
        layer_busy = sum(s.busy_s for s in tracer.spans
                         if s.name in tracing.LAYERS)
        metrics.update({
            "candidates.mention_dedup_ratio": rows["mentions"] / cells,
            "candidates.per_mention": rows["candidates"] / rows["mentions"],
            "cea.linked_ratio": rows["cea"] / cells,
            "emit.triples_per_cell": rows["emit"] / cells,
            "barriers.generations": untraced.generations,
            "barriers.write_mb": untraced.barrier_mb,
            "pipeline.jobs": len(pipeline_jobs),
            "pipeline.driver_gap_s": tracing.driver_gap_s(
                jobs, pipeline_jobs, *window),
            "pipeline.overlap_s": layer_busy - wall,
            "ingest.empty_drain_s": seq.latencies[-1] or 0.0,
            "ingest.sink_mb": seq.sink_mb,
            "ingest.sink_files": seq.sink_files,
            "tracing_overhead_s": traced_wall - wall,
        })
        self.report.update(untraced_wall_s=wall, traced_wall_s=traced_wall,
                           drain_s=seq.latencies)
        traces = harness.WORK_DIR / "traces"
        traces.mkdir(exist_ok=True)
        tracer.dump(traces / f"{self.args.workload}-seed{self.args.seed}.json")
        return metrics

    def execute(self) -> dict:
        eventlog = self.run_dir / "eventlog" if self.args.trace else None
        harness.pin_environment(self.run_dir, eventlog)
        probe_before = harness.ambient_probe()
        t0 = time.perf_counter()
        self.corpus, self.gold = harness.prepare_inputs(self.shape,
                                                        self.args.seed)
        self.report["inputs_s"] = time.perf_counter() - t0
        self.report["corpus"] = {
            "tables": self.shape.n_tables,
            "entities": len(self.corpus.entities),
            "source_files": len(self.corpus.repos),
            "data_cells": self.gold.data_cells,
            "triples": len(self.gold.triples),
        }
        try:
            self.setup()
            metrics = self.trace() if self.args.trace else self.measure()
        finally:
            if hasattr(self, "spark"):
                t0 = time.perf_counter()
                harness.stop_spark(self.spark)
                self.report["stop_s"] = time.perf_counter() - t0
        self.report["ambient_probe_s"] = {
            "before": probe_before, "after": harness.ambient_probe()}
        self.report.update(
            gate_s=self.gate_s,
            min_pr=self.tally.worst_pr,
            sha_mismatches=self.tally.sha_mismatches,
            failed_frac=self.tally.failed_frac,
            errors=self.tally.errors[:5],
        )
        return metrics


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (harness.REPO_ROOT / "tabular_data_semantics_py_spark").is_dir():
        print("kgbench: run from a checkout of the repository; the "
              "tabular_data_semantics_py_spark package is missing",
              file=sys.stderr)
        return 2
    run_dir = harness.make_run_dir()
    try:
        run = Run(args, run_dir)
        metrics = run.execute()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({"report": run.report}))
    print(json.dumps({
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
