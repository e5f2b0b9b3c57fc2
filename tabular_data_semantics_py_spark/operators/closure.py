"""Ontology transitive closure with min-depth (SURVEY.md §2.3 J6/J7).

The reference computes ancestor distances per class with a SPARQL
path-count query against a remote endpoint
(kg/endpoints.py:481-487,517-525) and merges equivalent classes
(kg/endpoints.py:469-477). Here the closure is built once, on the
driver, and then broadcast everywhere it is consumed (the hierarchy is
tiny: dbpedia.owl is 2.3k classes, fixture is ~30; even a 10^6-class
ontology closure is a few GB and still a broadcast-or-bucketed
dimension, never a fact-table shuffle).

Equivalence edges traverse at depth 0 in both directions, so an
equivalent class surfaces as a depth-0 "ancestor"; strict subsumption
has depth ≥ 1.
"""

from __future__ import annotations

import heapq

import pyarrow as pa
from pyspark.sql import DataFrame


def build_closure(
    edges: DataFrame,
    equivalent: DataFrame | None = None,
) -> DataFrame:
    """edges(class_uri, parent_uri) [+ equivalent(a, b)] →
    closure(class_uri, ancestor_uri, depth) with minimal depth.

    The ontology is a broadcast-scale dimension by design (SURVEY.md
    §1.1: dbpedia.owl is 2.3k classes; even 10^6 classes collect in
    MBs), so the closure is computed once on the driver with Dijkstra
    over the collected edge list — one collect + one createDataFrame
    instead of O(log diameter) shuffle jobs.
    """
    edge_rows = [(r[0], r[1], 1) for r in edges.collect()]
    if equivalent is not None:
        for r in equivalent.collect():
            edge_rows.append((r[0], r[1], 0))
            edge_rows.append((r[1], r[0], 0))

    adj: dict[str, list[tuple[str, int]]] = {}
    nodes: set[str] = set()
    for s, d, w in edge_rows:
        adj.setdefault(s, []).append((d, w))
        nodes.add(s)
        nodes.add(d)

    out_rows: list[tuple[str, str, int]] = []
    for src in sorted(nodes):
        dist: dict[str, int] = {src: 0}
        heap: list[tuple[int, str]] = [(0, src)]
        while heap:
            dd, n = heapq.heappop(heap)
            if dd > dist.get(n, 1 << 30):
                continue
            for m, w in adj.get(n, ()):
                nd = dd + w
                if nd < dist.get(m, 1 << 30):
                    dist[m] = nd
                    heapq.heappush(heap, (nd, m))
        for dst, dd in dist.items():
            if dst != src:
                out_rows.append((src, dst, dd))

    # an Arrow table, which the JVM reads as a local relation (a row
    # list would be unpickled by a Python worker)
    schema = pa.schema([("class_uri", pa.string()),
                        ("ancestor_uri", pa.string()), ("depth", pa.int32())])
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in out_rows], schema)
    return edges.sparkSession.createDataFrame(table)


def closure_to_map(closure: DataFrame) -> dict[str, dict[str, int]]:
    """Collect the (tiny) closure to a driver dict, class → {ancestor →
    depth}: the source of the map literal that the type-compatibility
    and most-specific expressions read (kg_matching.py:596-624 role)."""
    out: dict[str, dict[str, int]] = {}
    for row in closure.collect():
        out.setdefault(row["class_uri"], {})[row["ancestor_uri"]] = row["depth"]
    return out
