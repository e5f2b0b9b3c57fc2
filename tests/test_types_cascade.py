"""The type cascade against the plain-Python oracle: the
type-compatibility and most-specific-class expressions on the fixture
closure (kg_matching.py:596-624, challenge_utils.py:196-245), and the
predicate strategy's votes on a hand-built triple store
(kg_matching.py:357-389)."""

import random

from pyspark.sql import functions as F

from tabular_data_semantics_py_spark.constants import (
    AGENT_CLASS,
    ONTOLOGY_NS,
    PROPERTY_NS,
    RESOURCE_NS,
)
from tabular_data_semantics_py_spark.fixtures.generator import (
    Entity,
    FixtureCorpus,
)
from tabular_data_semantics_py_spark.fixtures.oracle import OracleExecutor
from tabular_data_semantics_py_spark.operators.closure import (
    build_closure,
    closure_to_map,
)
from tabular_data_semantics_py_spark.operators.types_cascade import (
    build_entity_types,
    closure_literal,
    compatible_expr,
    make_most_specific_udf,
)
from tabular_data_semantics_py_spark.sources.repo_source import (
    corpus_to_dataframes,
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


def _vote_corpus() -> FixtureCorpus:
    """X, Z, T and M have no index types and no rdf:type edge, so the
    predicate strategy alone types them; S1-S3 are typed subjects and
    objects. D ⊑ A.
    - X is the object of p1 (range A) once, p2 (range NULL) three
      times and p3 (range B) once, and the subject of p5 (domain D)
      once with a literal object: {A, B} from the ranges, D from the
      domain votes, which count literal objects too.
    - Z is the object of p1 (range A) once and the subject of p7
      (domain NULL) three times, p8 (domain "") twice and p9 (domain
      D) once: the NULL and empty domains cast no vote, so D is the
      top domain.
    - T is the object of p3 (range B) twice, p6 (range C) once and p1
      (range A) once: A and C tie, A wins on its name, C stays out of
      the top 2.
    - M is the object of p10 once, and property_meta gives p10 two
      rows, with ranges A and B: every row votes, so {A, B}."""
    cls = {n: ONTOLOGY_NS + n for n in "ABCD"}
    res = {n: RESOURCE_NS + n
           for n in ("X", "Z", "T", "M", "S1", "S2", "S3")}
    prop = {n: PROPERTY_NS + n for n in
            ("p1", "p2", "p3", "p5", "p6", "p7", "p8", "p9", "p10")}
    meta = [
        (prop["p1"], None, cls["A"]),
        (prop["p2"], None, None),
        (prop["p3"], None, cls["B"]),
        (prop["p5"], cls["D"], None),
        (prop["p6"], None, cls["C"]),
        (prop["p7"], None, ""),
        (prop["p8"], "", None),
        (prop["p9"], cls["D"], cls["C"]),
        (prop["p10"], None, cls["A"]),
        (prop["p10"], None, cls["B"]),
    ]
    edges = [
        ("S1", "p1", "X"), ("S1", "p2", "X"), ("S2", "p2", "X"),
        ("S3", "p2", "X"), ("S2", "p3", "X"),
        ("S1", "p1", "Z"), ("Z", "p7", "S1"), ("Z", "p7", "S2"),
        ("Z", "p7", "S3"), ("Z", "p8", "S1"), ("Z", "p8", "S2"),
        ("Z", "p9", "S3"),
        ("S1", "p3", "T"), ("S2", "p3", "T"), ("S1", "p6", "T"),
        ("S2", "p1", "T"),
        ("S3", "p10", "M"),
    ]
    triples = [(res[s], prop[p], res[o], False) for s, p, o in edges]
    triples.append((res["X"], prop["p5"], "42", True))
    entities = [
        Entity(uri, name, [], [cls["C"]] if name.startswith("S") else [],
               None, False, 1)
        for name, uri in res.items()
    ]
    return FixtureCorpus(
        seed=0, classes=[(c, n) for n, c in cls.items()],
        edges=[(cls["D"], cls["A"])], equivalent=[], entities=entities,
        triples=triples, property_meta=meta, tables=[], repos=[],
    )


def test_predicate_votes_match_oracle(spark):
    corpus = _vote_corpus()
    dfs = corpus_to_dataframes(spark, corpus)
    closure = build_closure(dfs["ontology_edges"], dfs["ontology_equivalent"])
    got = {
        r.uri: r.types
        for r in build_entity_types(
            dfs["entity_index"], dfs["kg_triples"], dfs["property_meta"],
            closure, closure_to_map(closure),
        ).collect()
    }
    ex = OracleExecutor(corpus)
    assert got == {
        e.uri: sorted(ex.types_for_entity(e.uri)) for e in corpus.entities
    }
    a, b, d = (ONTOLOGY_NS + n for n in "ABD")
    assert got[RESOURCE_NS + "X"] == [a, b, d]
    assert got[RESOURCE_NS + "Z"] == [a, d]
    assert got[RESOURCE_NS + "T"] == [a, b]
    assert got[RESOURCE_NS + "M"] == [a, b]
