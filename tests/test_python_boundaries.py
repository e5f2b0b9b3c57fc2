"""Plan-shape guard: the KG path's one Python boundary is the CSV
parse (``parse_cells``' ``mapInPandas``), which the ``cells`` barrier
cuts off. Mention and index-key normalization, candidate scoring,
type compatibility and the most-specific reduction are Spark
built-ins, so no plan built on ``cells`` has a Python node."""

import re

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
from tabular_data_semantics_py_spark.sources.csv_cells import data_cells

_PY_NODE = re.compile(
    r"^\(\d+\) (ArrowEvalPython|BatchEvalPython|MapInPandas)\b.*?\n"
    r"(?:.*\n)*?Arguments: (.*)$",
    re.M,
)


def _python_nodes(plan: str) -> list[str]:
    """The argument lines of every Python node in a formatted plan."""
    return [m.group(2) for m in _PY_NODE.finditer(plan)]


def _executed_plans(spark, tag: str, action) -> list[str]:
    """Formatted executed plans of every SQL execution ``action`` runs
    (eager checkpoints inside it included), read from the SQL status
    store by job description."""
    sc = spark.sparkContext
    sc.setJobDescription(tag)
    try:
        action()
    finally:
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
        if e.description() == tag
    ]
    assert plans, tag
    return plans


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_entity_types_and_cta_have_no_python(spark, dfs, pipeline):
    closure = pipeline.stages["closure"]
    closure_map = closure_to_map(closure)
    et_plans = _executed_plans(spark, "guard:entity_types", lambda: _run(
        build_entity_types(
            dfs["entity_index"], dfs["kg_triples"], dfs["property_meta"],
            closure, closure_map,
        )
    ))
    ms = make_most_specific_udf(closure_map, AGENT_CLASS)
    cta_plans = _executed_plans(spark, "guard:cta", lambda: _run(
        cta(pipeline.stages["cea"], pipeline.stages["entity_types"], ms,
            closure)
    ))
    for plan in et_plans + cta_plans:
        assert _python_nodes(plan) == [], plan


# generate_candidates runs inside each guarded action, so any barrier
# it writes while building the plan is part of the guarded plans
def test_candidates_have_no_python(spark, dfs, pipeline):
    plans = _executed_plans(spark, "guard:candidates", lambda: _run(
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

    for plan in _executed_plans(spark, "guard:cea", action):
        assert _python_nodes(plan) == [], plan
