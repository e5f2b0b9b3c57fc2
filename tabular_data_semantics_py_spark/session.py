"""SparkSession factory: the one place the program's Spark and JVM
settings are pinned. They come in two parts (the reasons sit next to
each setting):

- the job's settings (``job_session``), which hold on any master:
  plans evaluated interpreted (no whole-stage codegen and almost no
  Java generated and compiled with Janino), no UI and no console
  progress bar, and a shuffle partition per task slot, set on the live
  session (AQE, its partition coalescing and skew-join splitting, the
  file-scan split sizes and the broadcast threshold are Spark's
  defaults, not restated here);
- the local launcher's settings (``get_spark``): the master, a driver
  heap that starts at a 512 MiB floor it never shrinks below and grows
  on demand up to ``spark.driver.memory``, a 256 MiB first metaspace
  GC threshold, JIT thresholds for C2 code ten times the JDK default,
  1 MiB Tungsten pages, shuffle, spill and scratch barrier files under
  ``scratch_root``, and the event log when one is asked for.

``get_spark`` applies both: on ``local[N]`` the driver JVM is the
whole cluster, so every local session it starts (``kgbench``, the
tests and the scripts that call it, such as
``scripts/cpu_by_thread.py``) runs on all of them.
``scripts/run_pipeline.py``, the ``spark-submit`` entry point, applies
only the job's settings; ``spark-submit`` decides the master and the
driver's memory and Java options.

No stage of the job runs Python on an executor, so nothing here
configures Python workers or Arrow.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def scratch_root() -> str:
    """Root of ``spark.local.dir``, which holds shuffle and spill files
    and, in the session's Spark temp dir, the stage-barrier parquet of
    runs without a checkpoint dir (barriers.py):
    ``SPARK_GRAFT_LOCAL_DIR`` when set (a deployment's scratch volume),
    else the Python temp dir."""
    return os.environ.get("SPARK_GRAFT_LOCAL_DIR") or tempfile.gettempdir()


def _mib(size: str) -> int:
    """MiB in a JVM memory string as Spark reads ``spark.driver.memory``
    (``8g``, ``2048m``; a bare number is MiB)."""
    size = size.strip().lower().removesuffix("b")
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024**2}.get(size[-1])
    return int(float(size[:-1]) * scale) if scale else int(size)


def job_session(builder: SparkSession.Builder) -> SparkSession:
    """``builder.getOrCreate()`` with the job's settings, which hold on
    any master: ``get_spark`` passes its local launcher's builder, and
    ``scripts/run_pipeline.py`` a bare one under ``spark-submit``."""
    builder = (
        builder
        # UI on: kgbench peak_rss_mb +6.5/+10.2 MiB (kg_large_index/
        # kg_incremental, seed 1, 4-core VM, 17 of 20 pairs higher)
        .config("spark.ui.enabled", "false")
        # pyspark starts its JVM through spark-submit as a shell, and
        # spark-submit turns the console progress bar on for shells
        # unless the conf sets it: a timer thread redrawing stage
        # progress on stderr (tests/test_session.py reads it back)
        .config("spark.ui.showConsoleProgress", "false")
        # Interpreted plans, no generated Java: Spark's projections,
        # predicates and orderings come from its interpreted
        # implementations, and CollapseCodegenStages plans no
        # whole-stage codegen stage. An internal setting (Spark
        # documents it for its own tests; CodegenObjectFactory and
        # CollapseCodegenStages read it in 4.1.2), so
        # tests/test_python_boundaries.py fails if a Spark release
        # stops honouring it. At fixture scale a run is mostly fixed
        # cost, and generating Java source, compiling it with Janino
        # and JIT-compiling the result cost more than the per-row work
        # it speeds up. Measured at local[2] on a 4-core VM, seed 1:
        # scripts/cpu_by_thread.py's cold run 44.4 -> 35.7 CPU-s
        # (compiler 15.6 -> 11.3, other JVM 18.8 -> 15.6, executor
        # tasks 8.1 -> 7.2), Janino compiles 222 -> 6 cold and
        # 209 -> 0 warm, the warm run's executor tasks 4.6 -> 3.1 s;
        # kgbench kg_large_index ref_cpu_s median 46.2 -> 38.8
        # (10 pairs, 10/10). Whole-stage codegen is Spark's per-row
        # speed: a corpus whose executor work outweighs the compile
        # cost would want it back.
        .config("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    )
    spark = builder.getOrCreate()
    # a shuffle partition per task slot (a runtime SQL conf, so set
    # here; on a cluster, the executors' cores): at Spark's default of
    # 200, the traced kg_large_index layers' executor CPU rose from 1.7
    # to 3.8-4.0 s (seed 1, 2 runs, local[2])
    spark.conf.set("spark.sql.shuffle.partitions",
                   spark.sparkContext.defaultParallelism)
    return spark


def get_spark(
    app_name: str = "tabular-data-semantics-spark",
    master: str | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    master = master or f"local[{cpus}]"
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        # The heap grows on demand up to spark.driver.memory: no
        # -XX:+AlwaysPreTouch and no -Xms at the maximum, which fault
        # the whole maximum heap in at start and hold it for the
        # session's life. Measured with kgbench's 2 GiB heap at local[2]
        # on a 4-core VM, cold kg_large_index seed 1, together with the
        # 1 MiB pages below: peak_rss_mb median 2967 -> 1765 (10 pairs;
        # the JVM's PSS at the peak ~2600 -> 1290-1430 MiB), ref_cpu_s
        # 69.5 -> 70.5; on-demand heap alone gave 2212-2396 (3 runs).
        #
        # -Xms512m is a floor, not a pre-touch: its pages become
        # resident only when used. Without it the System.gc() before a
        # run left 147-177 MiB committed, and G1 grows a small heap by
        # timing: after 4 of 10 young pauses take more than a share of
        # wall time, which it scales down with the committed size (1%
        # below ~130 MiB of a 2 GiB maximum), it expands by up to 20%
        # of the uncommitted heap. GC logs of
        # cold kg_incremental runs showed a largest expansion of
        # 175-678 MiB, and peak_rss_mb read 1032-1365. Spark's own
        # classes fill the metaspace: ~100 MiB once the session has
        # loaded the kg_large_index corpus, ~157 MiB after a cold run
        # and ~160 MiB after a warm one (164 and 169 with generated
        # code, below), and each crossing of a
        # metaspace threshold (the first is 21 MiB) starts a concurrent
        # cycle whose pause counts toward that share: with the floor,
        # 12 of 16 runs still expanded once, by 62-90 MiB. With
        # MetaspaceSize=256m no logged run grew past 514 MiB; 12 runs
        # of each workload read peak_rss_mb 1129-1154 (kg_large_index)
        # and 1157-1175 (kg_incremental), at no cost in ref_cpu_s. A
        # heap maximum under 512 MiB caps the floor.
        #
        # Tier4*Threshold x10 (JDK 17 defaults 5000/600/15000/40000):
        # a method moves from C1 to C2 code after ten times the usual
        # calls and loop iterations, so C2 compiles only the hottest
        # code. With the defaults, the JIT's compiler threads were the
        # largest CPU item of a session's first pipeline run
        # (scripts/cpu_by_thread.py). Measured at local[2] on a 4-core
        # VM: kgbench's cold kg_large_index ref_cpu_s 87.3 -> 72.2
        # (10 pairs); a warm run later in the same session used 35.0 ->
        # 25.5 CPU-s at 10.0 -> 9.7 s wall (8 pairs). The trade-off:
        # code runs longer in C1's profiled tier, so executor tasks
        # use ~20% more CPU (warm 5.5 -> 6.6 s), the cold run's wall
        # rose 4-9% (with the defaults, C2 compiled on cores the run
        # left idle), and the tier-1 tests, one long-lived session of
        # many short jobs, took ~10% longer. C1 only
        # (TieredStopAtLevel=1) halved the cold CPU but made warm
        # runs ~15% slower and the tier-1 tests ~22%.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{min(512, _mib(driver_mem))}m -XX:MetaspaceSize=256m "
            "-XX:Tier4InvocationThreshold=50000 "
            "-XX:Tier4MinInvocationThreshold=6000 "
            "-XX:Tier4CompileThreshold=150000 "
            "-XX:Tier4BackEdgeThreshold=400000",
        )
        # Tungsten page size, pinned to the floor of Spark's own formula
        # nextPow2(pool / cores / 16). At kgbench's 2 GiB heap and
        # local[2] (and at the default 8g, local[8]) that formula gives
        # 33,554,416 B, and every hash-aggregate, sort and shuffle-sort
        # task takes such a page, a G1 humongous object, to hold a few
        # KB of rows: a GC log of one cold kg_large_index run showed up
        # to 874 humongous 1 MiB regions, 314 with 1 MiB pages. Safe at
        # this size because a task holds at most 8,192 pages
        # (TaskMemoryManager's page table): 8 GiB a task at 1 MiB, more
        # than the whole unified pool of any heap up to ~13 GiB (the
        # default 8g heap's pool is 4,965,217,075 B). A larger record
        # still gets a page of its own size; a task that runs out of
        # page numbers raises IllegalStateException, never a wrong
        # answer.
        .config("spark.buffer.pageSize", "1m")
        # shuffle/spill dir (see scratch_root); Spark deletes its
        # blockmgr/spill dirs under it on clean JVM shutdown
        .config(
            "spark.local.dir", os.path.join(scratch_root(), "local")
        )
    )
    # profiling hook (kgbench --trace 1 reads it for per-layer task,
    # CPU and barrier timing): uncompressed event log so the
    # task-metrics post-processor needs no zstd dependency
    evt_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if evt_dir:
        os.makedirs(evt_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", evt_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    return job_session(builder)
