"""Plan-shape guards on a fixture batch run: the stage barriers it
writes, no expression evaluated twice by an inferred filter, and the
type cascade's triple-store votes as one aggregation."""

import os

from tabular_data_semantics_py_spark.barriers import list_generations
from tabular_data_semantics_py_spark.operators.closure import closure_to_map
from tabular_data_semantics_py_spark.operators.types_cascade import (
    build_entity_types,
)
from tabular_data_semantics_py_spark.plans.pipeline import run_pipeline


def test_batch_run_writes_one_generation_per_barrier(spark, dfs):
    """A run plus its triples write materializes cells, entity_types,
    cea and the cea_linked join inside cea, once each (kgbench's
    ``barriers.generations``)."""
    before = list_generations(spark)
    res = run_pipeline(spark, dfs)
    res.stages["triples"].write.format("noop").mode("overwrite").save()
    new = list_generations(spark) - before
    assert sorted(os.path.basename(g).rsplit("-g", 1)[0] for g in new) == [
        "cea", "cea_linked", "cells", "entity_types",
    ]


def test_cta_reduces_each_entity_once(pipeline):
    """The explode in ``cta`` reads the most-specific expression, not a
    column of it, so Catalyst infers no size() > 0 filter that would
    run the reduction a second time below the projection."""
    plan = pipeline.stages["cta"]._jdf.queryExecution().optimizedPlan()
    filters = [
        line for line in plan.toString().splitlines()
        if "Filter" in line and "array_sort" in line
    ]
    assert filters == [], filters


def test_entity_types_votes_in_one_aggregation(dfs, pipeline):
    """The endpoint types and the range and domain votes come from one
    grouped aggregation over the triples: no window ranks the votes,
    no full outer join merges them, and property_meta is joined once."""
    closure = pipeline.stages["closure"]
    plan = build_entity_types(
        dfs["entity_index"], dfs["kg_triples"], dfs["property_meta"],
        closure, closure_to_map(closure),
    )._jdf.queryExecution().optimizedPlan().toString().splitlines()
    nodes = [line.lstrip(" :+-") for line in plan]
    assert [n for n in nodes if n.startswith("Window")] == []
    assert [n for n in plan if "FullOuter" in n] == []
    meta = set(dfs["property_meta"].columns)
    scans = [n for n in nodes if n.startswith("Relation")
             and all(c in n for c in meta)]
    assert len(scans) == 1, scans
