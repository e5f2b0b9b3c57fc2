"""connected_components vs a pure-Python union-find oracle: random
graphs (seeded), long chains (beyond the reference's 2-hop redirect
bound), cycles, and the fixture identity graph."""

import random

from pyspark.sql import functions as F

from tabular_data_semantics_py_spark.operators.components import (
    connected_components,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min node id per component
    comp = {}
    for n in list(parent):
        comp.setdefault(find(n), []).append(n)
    out = {}
    for root, members in comp.items():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r.node, r.component)
        for r in connected_components(df).collect()
    }
    want = set(_union_find(edges).items())
    assert got == want


def test_long_chain_and_cycle(spark):
    # a 40-node chain (39 hops — far past the 2-hop redirect bound)
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(39)]
    # plus a disjoint 6-cycle and an isolated pair
    cycle = [(f"c{i}", f"c{(i + 1) % 6}") for i in range(6)]
    _check(spark, chain + cycle + [("zz1", "zz2")])


def test_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 120
        nodes = [f"u{trial}_{i:03d}" for i in range(n)]
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(90)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        _check(spark, edges)


def test_duplicate_and_reversed_edges(spark):
    _check(spark, [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c")])


def test_fixture_identity_graph(spark):
    from tabular_data_semantics_py_spark.entry_queries import _fixture

    corpus, _, _ = _fixture()
    edges = [
        (e.uri, e.redirect_to) for e in corpus.entities if e.redirect_to
    ] + list(corpus.cross_sameas)
    _check(spark, edges)


def test_label_totality_and_roots(spark):
    edges = [("a", "b"), ("c", "d"), ("b", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    res = connected_components(df)
    rows = {r.node: r.component for r in res.collect()}
    # every incident node labeled exactly once, roots label themselves
    assert set(rows) == {"a", "b", "c", "d", "e"}
    assert rows["a"] == rows["b"] == rows["e"] == "a"
    assert rows["c"] == rows["d"] == "c"
    assert res.groupBy("node").count().where(F.col("count") > 1).count() == 0


def test_path_round_count_logarithmic(spark):
    # worst-case topology: a pure path of diameter n must converge in
    # ~log2(n) rounds (the O(log n) observed regime of the alternating
    # star contraction; the proof bound is O(log² n)). Guards against
    # a regression to linear per-hop propagation, which would be
    # unusable at 10^12-node scale (docs/components_rounds.md).
    n = 256
    edges = [(f"p{i:04d}", f"p{i + 1:04d}") for i in range(n - 1)]
    df = spark.createDataFrame(edges, "src string, dst string")
    stats = {}
    rows = {
        r.node: r.component
        for r in connected_components(df, stats=stats).collect()
    }
    assert all(c == "p0000" for c in rows.values())
    assert len(rows) == n
    # log2(256) = 8; measured 10 on this topology (+1 convergence
    # confirmation round); 16 = generous headroom that still rejects
    # anything resembling O(n) or O(log² n) behavior at this size
    assert stats["rounds"] <= 16, stats

