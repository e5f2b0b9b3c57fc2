"""The type-compatibility and most-specific-class expressions against
the plain-Python oracle on the fixture closure
(kg_matching.py:596-624, challenge_utils.py:196-245)."""

import random

from pyspark.sql import functions as F

from tabular_data_semantics_py_spark.constants import AGENT_CLASS, ONTOLOGY_NS
from tabular_data_semantics_py_spark.fixtures.oracle import OracleExecutor
from tabular_data_semantics_py_spark.operators.closure import closure_to_map
from tabular_data_semantics_py_spark.operators.types_cascade import (
    closure_literal,
    compatible_expr,
    make_most_specific_udf,
)


def test_compat_and_most_specific_match_oracle(spark, corpus, pipeline):
    ex = OracleExecutor(corpus)
    closure_map = closure_to_map(pipeline.stages["closure"])
    classes = sorted(
        set(closure_map)
        | {a for ancs in closure_map.values() for a in ancs}
        | {AGENT_CLASS, ONTOLOGY_NS + "NotInTheClosure"}  # NULL lookup
    )
    rnd = random.Random(11)
    cases = []
    for _ in range(2000):
        types = rnd.sample(classes, rnd.randrange(0, 7))
        if rnd.random() < 0.3 and AGENT_CLASS not in types:
            types.append(AGENT_CLASS)
        cases.append(
            (rnd.choice(classes), rnd.sample(classes, rnd.randrange(0, 5)),
             types)
        )
    df = spark.createDataFrame(
        list(enumerate(cases)),
        "id int, c struct<t string, ref array<string>, types array<string>>",
    ).select("id", "c.*")
    most_specific = make_most_specific_udf(closure_map, AGENT_CLASS)
    got = df.select(
        "id",
        compatible_expr(
            closure_literal(closure_map), F.col("t"), F.col("ref")
        ).alias("compat"),
        most_specific(F.col("types")).alias("ms"),
    ).collect()
    assert len(got) == len(cases)
    for r in got:
        t, ref, types = cases[r.id]
        assert r.compat == ex._compatible(t, set(ref)), (t, ref)
        assert r.ms == sorted(ex.most_specific(frozenset(types))), types
