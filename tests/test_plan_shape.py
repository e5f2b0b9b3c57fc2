"""Plan-shape guards on a fixture batch run: the stage barriers it
writes, and no expression evaluated twice by an inferred filter."""

import os

from tabular_data_semantics_py_spark.barriers import list_generations
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
