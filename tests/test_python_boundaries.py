"""Plan-shape guard: no stage of the KG job runs Python on an
executor. The CSV parse, mention and index-key normalization,
candidate scoring, type compatibility and the most-specific reduction
are all Spark built-ins, so no executed plan has a Python node. Nor
does any executed plan map case: Spark's ``lower``/``upper``/
``initcap`` go through ICU, whose first call in a JVM builds a
title-case map of every code point. Nor does any executed plan hold a
whole-stage codegen stage: the session evaluates plans interpreted, so
a run compiles almost no generated Java."""

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tabular_data_semantics_py_spark.constants import AGENT_CLASS
from tabular_data_semantics_py_spark.operators.annotate import cea, cta
from tabular_data_semantics_py_spark.operators.candidates import (
    generate_candidates,
)
from tabular_data_semantics_py_spark.operators.closure import closure_to_map
from tabular_data_semantics_py_spark.operators.types_cascade import (
    build_entity_types,
    make_most_specific_udf,
)
from tabular_data_semantics_py_spark.plans.pipeline import run_pipeline
from tabular_data_semantics_py_spark.sources.csv_cells import data_cells

# every Python exec node of Spark 4.1 (the node name is the
# ``org.apache.spark.sql.execution.python`` class name without
# ``Exec``): ArrowEvalPython, BatchEvalPython, their UDTF forms,
# ArrowAggregatePython, ArrowWindowPython, MapInPandas, MapInArrow,
# FlatMap(Co)GroupsIn{Pandas,Arrow}, FlatMapGroupsInPandasWithState and
# PythonWorkerLogs
_PY_NODE = re.compile(r"^\(\d+\) (\w*(?:Python|Pandas|Arrow)\w*)", re.M)
# a scan of an RDD that a Python worker fills (``createDataFrame`` of a
# Python row list: its RDD is made by ``applySchemaToPythonRDD``)
_PY_RDD = re.compile(r"^Arguments: .*\b(\w*PythonRDD)\b", re.M)


# a case-mapping expression as a formatted plan prints it
_CASE_MAP = re.compile(r"\b(?:lower|upper|lcase|ucase|initcap)\(")


def _python_nodes(plan: str) -> list[str]:
    """The names of every Python node and Python-filled RDD scan in a
    formatted plan."""
    return _PY_NODE.findall(plan) + _PY_RDD.findall(plan)


def _formatted(df) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_guard_sees_python_nodes(spark):
    """The pattern finds the Python node of each kind of Python
    operator (the plans are built, never run)."""
    df = spark.range(3)
    scalar = F.pandas_udf(lambda s: s, "long")

    @F.pandas_udf("double")
    def mean(v: pd.Series) -> float:
        return v.mean()

    grouped = df.groupBy("id")
    plans = {
        "BatchEvalPython": df.select(F.udf(lambda x: x, "long")("id")),
        "ArrowEvalPython": df.select(scalar("id")),
        "ArrowAggregatePython": grouped.agg(mean("id")),
        "ArrowWindowPython": df.select(
            mean("id").over(Window.partitionBy("id"))),
        "MapInPandas": df.mapInPandas(lambda it: it, df.schema),
        "MapInArrow": df.mapInArrow(lambda it: it, df.schema),
        "FlatMapGroupsInPandas": grouped.applyInPandas(lambda p: p, df.schema),
        "FlatMapGroupsInArrow": grouped.applyInArrow(lambda t: t, df.schema),
        "FlatMapCoGroupsInPandas": grouped.cogroup(grouped).applyInPandas(
            lambda a, b: a, df.schema),
        "applySchemaToPythonRDD": spark.createDataFrame([(1,)], "id long"),
    }
    for name, plan in plans.items():
        assert name in _python_nodes(_formatted(plan)), name
    assert _python_nodes(_formatted(df.select(F.col("id") + 1))) == []


def _executed_plans(spark, action) -> list[str]:
    """Formatted executed plans of every SQL execution that starts
    while ``action`` runs (eager barriers included), read from the SQL
    status store."""
    store = spark._jsparkSession.sharedState().statusStore()

    def ids() -> set[int]:
        execs = store.executionsList()
        return {execs.apply(i).executionId() for i in range(execs.size())}

    before = ids()
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = store.executionsList()
    plans = [
        e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
        if e.executionId() not in before
    ]
    assert plans
    return plans


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_entity_types_and_cta_have_no_python(spark, dfs, pipeline):
    closure = pipeline.stages["closure"]
    closure_map = closure_to_map(closure)
    et_plans = _executed_plans(spark, lambda: _run(
        build_entity_types(
            dfs["entity_index"], dfs["kg_triples"], dfs["property_meta"],
            closure, closure_map,
        )
    ))
    ms = make_most_specific_udf(closure_map, AGENT_CLASS)
    cta_plans = _executed_plans(spark, lambda: _run(
        cta(pipeline.stages["cea"], pipeline.stages["entity_types"], ms,
            closure)
    ))
    for plan in et_plans + cta_plans:
        assert _python_nodes(plan) == [], plan


# generate_candidates runs inside each guarded action, so any barrier
# it writes while building the plan is part of the guarded plans
def test_candidates_have_no_python(spark, dfs, pipeline):
    plans = _executed_plans(spark, lambda: _run(
        generate_candidates(
            data_cells(pipeline.stages["cells"]), dfs["entity_index"]
        )[1]
    ))
    for plan in plans:
        assert _python_nodes(plan) == [], plan


def test_cea_has_no_python(spark, dfs, pipeline):
    def action():
        cells_m, _ = generate_candidates(
            data_cells(pipeline.stages["cells"]), dfs["entity_index"]
        )
        _run(cea(cells_m, pipeline.stages["candidates"],
                 pipeline.stages["entity_types"]))

    for plan in _executed_plans(spark, action):
        assert _python_nodes(plan) == [], plan


def _janino_compiles(spark) -> int:
    """Generated classes Janino has compiled so far in the JVM."""
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return codegen.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="module")
def batch_run(spark, dfs) -> tuple[list[str], int]:
    """The executed plans of a whole batch run, ``cells`` included,
    plus the caller's writes that execute the lazy stages (``cta``,
    ``cpa``, ``triples``), and the number of classes Janino compiled
    while they ran."""
    def action():
        res = run_pipeline(spark, dfs)
        _run(res.stages["triples"])
        _run(res.stages["cpa"])

    compiles = _janino_compiles(spark)
    plans = _executed_plans(spark, action)
    assert any("regexp_extract_all" in p for p in plans)  # the CSV parse
    assert any("translate(" in p for p in plans)  # the normalization
    return plans, _janino_compiles(spark) - compiles


@pytest.fixture(scope="module")
def batch_plans(batch_run) -> list[str]:
    return batch_run[0]


def test_pipeline_and_triples_write_have_no_python(batch_plans):
    for plan in batch_plans:
        assert _python_nodes(plan) == [], plan


def test_guard_sees_case_mapping(spark):
    """The pattern finds each case-mapping function in a plan (built,
    never run, so the test JVM does not pay for ICU either)."""
    s = F.col("id").cast("string")
    funcs = [F.lower, F.upper, F.lcase, F.ucase, F.initcap]
    plan = _formatted(spark.range(3).select(*(f(s) for f in funcs)))
    assert set(_CASE_MAP.findall(plan)) == {f"{f.__name__}(" for f in funcs}


def test_pipeline_and_triples_write_map_no_case(batch_plans):
    """Normalization lowercases in its accent ``translate`` table, so
    no run pays for Spark's ICU case mapping."""
    for plan in batch_plans:
        assert _CASE_MAP.findall(plan) == [], plan


# a whole-stage codegen stage as a formatted plan prints it: the
# WholeStageCodegen node, or an operator's ``[codegen id : n]``
_WHOLE_STAGE = re.compile(r"WholeStageCodegen|\[codegen id")
# the Janino compiles left in a fixture batch run started with an empty
# codegen cache, by the generator that Spark calls without the
# interpreted fallback (the cache keys a class by its source, so a run
# after another compiles fewer)
_BYPASS_COMPILES = {
    # TungstenAggregationIterator joins a group's key and buffer rows:
    # one class per distinct pair of row types among the hash aggregates
    "GenerateUnsafeRowJoiner": 7,
    # SortBasedAggregator orders the group keys when an object hash
    # aggregate (collect_set) falls back to sorting past 128 keys
    "GenerateOrdering": 1,
}


def test_pipeline_and_triples_write_run_interpreted(batch_run):
    """``spark.sql.codegen.factoryMode=NO_CODEGEN`` holds: no plan has a
    whole-stage codegen stage, and Janino compiles only the classes of
    the generators that bypass the interpreted fallback. With codegen a
    fixture batch run compiles ~240 classes."""
    plans, compiles = batch_run
    for plan in plans:
        assert _WHOLE_STAGE.findall(plan) == [], plan
    assert compiles <= sum(_BYPASS_COMPILES.values()), compiles
