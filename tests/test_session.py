"""The session's JVM flags are read back from the running JVM, not from
the config string: a launcher that dropped ``spark.driver.extraJavaOptions``
would leave the config intact and the flags unset."""


def test_driver_jvm_runs_raised_c2_thresholds_on_demand_heap_1m_pages(spark):
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    flags = {name: bean.getVMOption(name).getValue() for name in (
        "Tier4InvocationThreshold", "Tier4MinInvocationThreshold",
        "Tier4CompileThreshold", "Tier4BackEdgeThreshold", "AlwaysPreTouch",
        "InitialHeapSize", "MetaspaceSize")}
    assert flags == {
        "Tier4InvocationThreshold": "50000",
        "Tier4MinInvocationThreshold": "6000",
        "Tier4CompileThreshold": "150000",
        "Tier4BackEdgeThreshold": "400000",
        "AlwaysPreTouch": "false",
        "InitialHeapSize": str(512 << 20),
        "MetaspaceSize": str(256 << 20),
    }
    memory = spark.sparkContext._jsc.sc().env().memoryManager()
    page = memory.pageSizeBytes()
    assert page == 1 << 20
    # a task holds at most 8,192 pages (TaskMemoryManager's page table),
    # so at this page size one task can still address the whole
    # unified pool of the idle session
    assert 8192 * page >= memory.maxOnHeapStorageMemory()


def test_heap_floor_reads_driver_memory_as_spark_does():
    from tabular_data_semantics_py_spark.session import _mib

    # a bare number is MiB, as for spark.driver.memory
    assert [_mib(s) for s in ("8g", "2048m", "2G", "1024", "480m")] == [
        8192, 2048, 2048, 1024, 480]


def test_scratch_root_is_the_deployment_dir_or_the_temp_dir(monkeypatch):
    """No RAM-disk branch: even with a /dev/shm that has room, scratch
    goes to SPARK_GRAFT_LOCAL_DIR or, unset, the Python temp dir."""
    import os
    import tempfile

    from tabular_data_semantics_py_spark.session import scratch_root

    roomy = os.statvfs_result((4096, 4096, 1 << 24, 1 << 24, 1 << 24,
                               0, 0, 0, 0, 255))  # 64 GiB free
    monkeypatch.setattr(os, "statvfs", lambda path: roomy)
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_DIR", "/srv/spark-scratch")
    assert scratch_root() == "/srv/spark-scratch"
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_DIR")
    assert scratch_root() == tempfile.gettempdir()


def test_session_runs_plans_interpreted_without_console_progress(spark):
    """Read back from the live session and context: plans are
    evaluated with no generated code, and no console progress bar runs
    (pyspark launches its JVM as a shell, and spark-submit turns the
    bar on for shells unless the conf sets it)."""
    assert spark.conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN"
    assert not spark.sparkContext._jsc.sc().progressBar().isDefined()


def test_shuffle_width_is_the_task_slot_count(spark):
    """get_spark sets one shuffle partition per task slot of the
    running context (8 at the tests' local[8])."""
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == (
        spark.sparkContext.defaultParallelism)
