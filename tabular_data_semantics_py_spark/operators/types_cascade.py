"""Type-enrichment cascade (SURVEY.md §2.7 D1-D6).

Reimplements the reference's order-dependent strategy fallback
(matching/kg_matching.py:301-355 lookup strategy, 357-389 predicate
strategy, 522-590 type analysis, 596-624 compatibility) as a column
pipeline: every strategy's output is its own array column and the
cascade is an explicit ``when`` chain — no per-row Python in the
relational parts.

Join strategy at scale: ``kg_triples`` is the big fact table; all
aggregations on it are partial-agg friendly groupBys keyed by entity
URI. ``property_meta`` is a tiny dimension (broadcast). Compatibility
checks — set-vs-set reachability in the class DAG — the ancestor
expansion and the most-specific reduction are ``exists``/``filter``/
``transform`` higher-order functions over one map literal of the
closure (class → ancestor → depth): per-row expressions where a join
would need an explode, and no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import (
    AVOID_TOP_CONCEPTS,
    ONTOLOGY_NS,
    PREDICATE_TOP_RANGE,
    RDF_TYPE,
)


def _avoid_tops_lit():
    return F.array(*[F.lit(x) for x in sorted(AVOID_TOP_CONCEPTS)])


def closure_literal(closure_map: dict[str, dict[str, int]]) -> Column:
    """The closure as one map literal, class → {ancestor → depth}.
    It is tiny (fixture: 28 classes, 75 entries) and constant-folds
    into the plan."""
    return F.create_map(*[
        x
        for c, ancs in sorted(closure_map.items())
        for x in (F.lit(c), F.create_map(*[
            y for a, d in sorted(ancs.items()) for y in (F.lit(a), F.lit(d))
        ]))
    ]).cast("map<string,map<string,int>>")


def _ancestors(cl: Column, c: Column) -> Column:
    """cl[c], or an empty map for a class absent from the closure
    (``element_at`` on a missing key is NULL)."""
    return F.coalesce(
        F.element_at(cl, c), F.create_map().cast("map<string,int>")
    )


def compatible_expr(cl: Column, t: Column, ref: Column) -> Column:
    """t ∈ {s} ∪ ancestors(s) ∪ descendants(s) for some s ∈ ref
    (kg_matching.py:596-624)."""
    return F.exists(
        ref,
        lambda s: (t == s)
        | F.map_contains_key(_ancestors(cl, s), t)
        | F.map_contains_key(_ancestors(cl, t), s),
    )


def build_entity_types(
    entity_index: DataFrame,
    kg_triples: DataFrame,
    property_meta: DataFrame,
    closure: DataFrame,
    closure_map: dict[str, dict[str, int]],
) -> DataFrame:
    """→ (uri, types:array<string> sorted) — the D-cascade result,
    ancestor-expanded, AVOID_TOP_CONCEPTS removed. The ancestors come
    from ``closure_map``, which holds the rows of ``closure``; the
    ``closure`` argument is unused (kgbench/tracing.py passes it)."""

    cl = closure_literal(closure_map)

    # D1/D2: lookup-strategy types — index types, ns-filtered, cleared
    # for disambiguation pages (kg_matching.py:417-420)
    lookup = entity_index.select(
        "uri",
        F.when(F.col("is_disambiguation"), F.array().cast("array<string>"))
        .otherwise(
            F.array_except(
                F.filter(
                    F.col("types"),
                    lambda t: t.startswith(F.lit(ONTOLOGY_NS)),
                ),
                _avoid_tops_lit(),
            )
        )
        .alias("lookup_types"),
    )

    # endpoint types and D3 predicate strategy (kg_matching.py:357-389)
    # from one pass over the triples: each triple becomes up to three
    # (uri, strategy, class) vote rows — an rdf:type edge for its
    # subject, the predicate's range for a resource object, the
    # predicate's domain for its subject — and NULL or empty classes
    # cast no vote (the oracle's ``if r:`` / ``if d:``).
    is_type = F.col("pred") == RDF_TYPE

    def tag(uri: str, strategy: str, cls: Column) -> Column:
        return F.struct(F.col(uri).alias("uri"),
                        F.lit(strategy).alias("strategy"), cls.alias("cls"))

    vote = (
        kg_triples.join(F.broadcast(property_meta), "pred", "left")
        .select(F.inline(F.array(
            tag("subj", "type", F.when(
                is_type & F.col("obj").startswith(ONTOLOGY_NS), F.col("obj")
            )),
            tag("obj", "range", F.when(
                ~is_type & ~F.col("obj_is_literal"), F.col("range_uri")
            )),
            tag("subj", "domain", F.when(~is_type, F.col("domain_uri"))),
        )))
        .where(F.col("cls") != "")  # false for NULL too
        .groupBy("uri", "strategy", "cls")
        .agg(F.count(F.lit(1)).alias("votes"))
    )

    def of(strategy: str, c: Column) -> Column:
        return F.when(F.col("strategy") == strategy, c)

    # ranked (votes desc, class asc): the range top-PREDICATE_TOP_RANGE
    # is a slice of the sorted votes, the domain top a min_by
    rank = F.struct((-F.col("votes")).alias("nv"), F.col("cls"))
    top_ranges = F.slice(
        F.array_sort(F.collect_list(of("range", rank))),
        1, PREDICATE_TOP_RANGE,
    )
    triple_types = vote.groupBy("uri").agg(
        F.collect_list(of("type", F.col("cls"))).alias("endpoint_types"),
        F.transform(top_ranges, lambda r: r["cls"]).alias("range_types"),
        F.min_by(of("domain", F.col("cls")), of("domain", rank))
        .alias("domain_type"),
    ).select(
        "uri",
        "endpoint_types",
        # the top domain joins the ranges when compatible with them
        F.when(
            (F.size("range_types") > 0)
            & F.col("domain_type").isNotNull()
            & compatible_expr(cl, F.col("domain_type"), F.col("range_types")),
            F.array_union("range_types", F.array(F.col("domain_type"))),
        ).otherwise(F.col("range_types")).alias("pred_types"),
    )

    empty = F.array().cast("array<string>")
    compat = F.filter(
        "endpoint_types", lambda t: compatible_expr(cl, t, F.col("pred_types"))
    )
    base = (
        lookup.join(triple_types, "uri", "left")
        .withColumn("endpoint_types", F.coalesce("endpoint_types", empty))
        .withColumn("pred_types", F.coalesce("pred_types", empty))
        .withColumn(
            "base_types",
            # D2 cascade (kg_matching.py:301-355): lookup hit wins; else
            # endpoint types compat-filtered against predicate types
            # (raw endpoint fallback when none is compatible,
            # kg_matching.py:345-350); else predicate types alone.
            F.when(F.size("lookup_types") > 0, F.col("lookup_types"))
            .when(F.size(compat) > 0, compat)  # [] unless both non-empty
            .when(F.size("endpoint_types") > 0, F.col("endpoint_types"))
            .otherwise(F.col("pred_types")),
        )
    )

    # ancestor expansion through the closure map literal: every
    # ontology-namespace class that cl lists for a base type
    # (kg/endpoints.py:452-466 superclass closure role)
    anc_types = F.flatten(F.transform(
        "base_types",
        lambda t: F.filter(
            F.map_keys(_ancestors(cl, t)),
            lambda a: a.startswith(F.lit(ONTOLOGY_NS)),
        ),
    ))
    return base.select(
        "uri",
        F.array_sort(
            F.array_except(
                F.array_union("base_types", anc_types), _avoid_tops_lit()
            )
        ).alias("types"),
    )


def make_most_specific_udf(closure_map: dict[str, dict[str, int]],
                           agent_class: str):
    """Most-specific-class reduction (challenge_utils.py:196-245):
    drop Agent, then any class that is a strict (depth ≥ 1) ancestor
    of another class in the set; sorted. Returns a ``Column -> Column``
    function that composes Spark built-ins (``filter``/``exists`` over
    the closure map literal), not a UDF — the name is kept because
    kgbench imports it."""
    cl = closure_literal(closure_map)

    def most_specific(types: Column) -> Column:
        ts = F.filter(types, lambda t: t != F.lit(agent_class))
        return F.array_sort(F.filter(ts, lambda t: ~F.exists(
            ts,
            lambda u: (u != t)
            & (F.coalesce(F.element_at(_ancestors(cl, u), t), F.lit(0)) >= 1),
        )))

    return most_specific
