"""Where a pipeline run's CPU and memory go, by process and JVM thread
class.

Starts one session through ``get_spark`` in kgbench's environment
(``local[nproc/2]``, its driver heap, its scratch directories) at the
``kg_large_index`` corpus shape, then runs one cold and one warm batch
job (``run_pipeline`` plus the triples write, as kgbench times it).
For each run it prints the CPU seconds used, read from
``/proc/<jvm>/task/*/{comm,stat}`` and from the processes below the
JVM, in these classes:

- compiler: the JIT's ``C1/C2 CompilerThre(ad)`` threads
- gc: G1's ``GC Thread#``/``G1 *`` threads
- executor_task: Spark's ``Executor task launch worker`` threads
- other_jvm: every other JVM thread (schedulers, shuffle, broadcast,
  Netty, the VM thread), including threads that exited during the run
- python_workers: every process below the JVM, exited ones included
- driver: this Python process

The classes add up to the run's total; ``kgbench`` reports only that
total (``cpu_s``), and its trace sees executor task CPU only. Each
run's triples are checked against the oracle after its timer stops.

After each run it also prints, in MiB, the proportional set size (PSS,
from ``/proc/<pid>/smaps_rollup``) of the JVM, of this driver process
and of the Python workers below the JVM, and the JVM heap's committed
and used size (``MemoryMXBean``). ``kgbench``'s ``peak_rss_mb`` is the
peak of the three PSS figures' sum during the run.

Last, it prints three JVM counters per run, each the change over the
run: classes loaded (``ClassLoadingMXBean``), generated classes
compiled by Janino (Spark's ``CodegenMetrics`` compilation-time
histogram count) and milliseconds the JIT spent compiling
(``CompilationMXBean``). They split the run's other-JVM and compiler
CPU by cause: class loading, generated code, JIT.

    python3 scripts/cpu_by_thread.py [--seed 1]

Run from the repository root, with nothing else heavy on the host.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from kgbench import harness  # noqa: E402
from kgbench.rss_sampler import _pss_bytes, descendants  # noqa: E402

CLASSES = ("compiler", "gc", "executor_task", "other_jvm",
           "python_workers", "driver")
MEMORY = ("jvm_pss", "driver_pss", "worker_pss", "heap_committed",
          "heap_used")
COUNTERS = ("classes_loaded", "janino_compiles", "jit_ms")
_TICK = os.sysconf("SC_CLK_TCK")


def thread_class(comm: str) -> str:
    if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
        return "compiler"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    if comm.startswith("Executor task l"):
        return "executor_task"
    return "other_jvm"


def _own_s(stat_path: str) -> float:
    """User plus system CPU seconds of one process or thread."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def snapshot(jvm_pid: int) -> tuple[dict, dict]:
    """CPU seconds so far of each JVM thread (by tid), and of the JVM,
    this process and the whole session (``harness.session_cpu_s``)."""
    threads: dict[int, tuple[str, float]] = {}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        base = f"/proc/{jvm_pid}/task/{tid}"
        try:
            with open(f"{base}/comm") as f:
                comm = f.read().strip()
            threads[int(tid)] = (comm, _own_s(f"{base}/stat"))
        except OSError:  # the thread exited while being read
            continue
    own = os.times()
    totals = {"jvm": _own_s(f"/proc/{jvm_pid}/stat"),
              "driver": own.user + own.system,
              "session": harness.session_cpu_s(jvm_pid)}
    return threads, totals


def attribute(before: tuple[dict, dict],
              after: tuple[dict, dict]) -> dict[str, float]:
    """CPU seconds per class between two snapshots. Threads alive at the
    second are charged by class; the rest of the JVM's total (threads
    that exited in between) goes to ``other_jvm``, and the rest of the
    session's total to ``python_workers``."""
    (t0, c0), (t1, c1) = before, after
    delta = {k: c1[k] - c0[k] for k in c1}
    cpu = dict.fromkeys(CLASSES, 0.0)
    for tid, (comm, s) in t1.items():
        cpu[thread_class(comm)] += s - t0.get(tid, (comm, 0.0))[1]
    cpu["other_jvm"] += delta["jvm"] - sum(cpu.values())
    cpu["driver"] = delta["driver"]
    cpu["python_workers"] = delta["session"] - delta["jvm"] - delta["driver"]
    return cpu


def memory_mib(spark, jvm_pid: int) -> dict[str, float]:
    """PSS of the JVM, of this process and of every process below the
    JVM (the Python workers), and the JVM heap's committed and used
    size, all in MiB."""
    workers = 0
    for pid in descendants(jvm_pid)[1:]:
        try:
            workers += _pss_bytes(pid)
        except OSError:  # the worker exited while being read
            continue
    heap = (spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getMemoryMXBean().getHeapMemoryUsage())
    nbytes = {"jvm_pss": _pss_bytes(jvm_pid),
              "driver_pss": _pss_bytes(os.getpid()),
              "worker_pss": workers,
              "heap_committed": heap.getCommitted(),
              "heap_used": heap.getUsed()}
    return {k: v / 2**20 for k, v in nbytes.items()}


def counters(spark) -> dict[str, int]:
    """The JVM's totals so far of classes loaded, Janino compiles of
    generated classes and JIT compile milliseconds."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {
        "classes_loaded": mx.getClassLoadingMXBean().getTotalLoadedClassCount(),
        "janino_compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
        "jit_ms": mx.getCompilationMXBean().getTotalCompilationTime(),
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=harness.DEFAULT_SEED)
    args = p.parse_args(argv)

    shape = harness.WORKLOADS["kg_large_index"].shape
    run_dir = harness.make_run_dir()
    harness.pin_environment(run_dir, None)
    _, gold = harness.prepare_inputs(shape, args.seed)

    from pyspark import SparkContext

    from tabular_data_semantics_py_spark.barriers import clear_scratch
    from tabular_data_semantics_py_spark.session import get_spark
    from tabular_data_semantics_py_spark.sources.repo_source import (
        load_or_build_corpus_dfs,
    )

    spark = None
    try:
        spark = get_spark(app_name="cpu-by-thread",
                          master=f"local[{harness.task_slots()}]")
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = SparkContext._gateway.proc.pid
        dfs = load_or_build_corpus_dfs(spark, shape.n_tables,
                                       shape.entities_per_class,
                                       seed=args.seed)
        rows = {}
        for run in ("cold", "warm"):
            out = run_dir / f"triples-{run}"
            harness.collect_heaps(spark)
            count0, before = counters(spark), snapshot(jvm_pid)
            wall, res = harness.batch_op(spark, dfs, out)
            cpu = attribute(before, snapshot(jvm_pid))
            mem = memory_mib(spark, jvm_pid)
            count = {k: v - count0[k] for k, v in counters(spark).items()}
            verdict, _ = harness.check_batch(res, out, gold)
            clear_scratch(spark)
            shutil.rmtree(out, ignore_errors=True)
            rows[run] = (wall, cpu, mem, count, verdict.ok)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"kg_large_index {shape} seed {args.seed}, "
          f"local[{harness.task_slots()}], nproc {harness.nproc()}")
    print(f"{'run':<6}{'wall_s':>8}{'total':>8}"
          + "".join(f"{c:>16}" for c in CLASSES) + "  oracle")
    for run, (wall, cpu, _, _, ok) in rows.items():
        print(f"{run:<6}{wall:>8.1f}{sum(cpu.values()):>8.1f}"
              + "".join(f"{cpu[c]:>16.1f}" for c in CLASSES)
              + ("  exact" if ok else "  MISMATCH"))
    print(f"{'MiB':<6}" + "".join(f"{m:>16}" for m in MEMORY))
    for run, (_, _, mem, _, _) in rows.items():
        print(f"{run:<6}" + "".join(f"{mem[m]:>16.0f}" for m in MEMORY))
    print(f"{'count':<6}" + "".join(f"{c:>16}" for c in COUNTERS))
    for run, (*_, count, _) in rows.items():
        print(f"{run:<6}" + "".join(f"{count[c]:>16}" for c in COUNTERS))
    return 0 if all(ok for *_, ok in rows.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
