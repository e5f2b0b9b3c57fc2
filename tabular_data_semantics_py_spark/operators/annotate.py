"""CEA / CTA / CPA annotation operators (SURVEY.md §2.3-2.4, §2.7).

All three are shuffle-lean column pipelines:

- CEA: two argmaxes per cell key (phase-1 lexical pick, phase-2
  column-coherence re-rank). The coherence vote table is
  a groupBy(table, col, type) — the only wide shuffle, keyed well
  below cell cardinality.
- CTA: type voting (challenge_utils.py:121-126) + pinned-lexicographic
  argmax (challenge_utils.py:184-193) + ancestor expansion of the
  winner (challenge_utils.py:150-160).
- CPA: subject-column × object-column entity pairs joined against the
  triple store, predicate voting (kg/endpoints.py:342-346 derivation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..barriers import parquet_barrier
from ..constants import (
    AGENT_CLASS,
    AVOID_PREDICATES,
    AVOID_TOP_CONCEPTS,
    ONTOLOGY_NS,
    RDF_TYPE,
    TYPE_BONUS,
)

_CELL_KEY = ["table_id", "col", "row"]


def cea(
    cells_with_mention: DataFrame,
    candidates: DataFrame,
    entity_types: DataFrame,
    run_dir: str | None = None,
) -> DataFrame:
    """→ (table_id, col, row, uri): the final cell-entity annotation,
    the phase-2 argmax over one row per (cell, candidate) with
    ``final_score`` = score + TYPE_BONUS * max column vote-share over
    the candidate's types, and a pinned (popularity, uri) tie-break.
    Pinned spec in fixtures/oracle.py.

    ``linked`` is fact-scale (cells x candidates), so its barrier is a
    parquet round trip, not an executor-storage checkpoint — see
    barriers.py for the memory rationale. It lands in ``run_dir``
    (the calling run's directory), or in a fresh one when none is
    given.
    """
    linked = (
        cells_with_mention.where(F.col("mention_norm") != "")
        .select(*_CELL_KEY, "mention_norm")
        .join(candidates, "mention_norm")
    )
    linked = parquet_barrier(linked, "cea_linked", run_dir)
    # consumed by phase 1 and phase 2. The barrier earns its write:
    # without it, kgbench at seed 1 on a 4-core host (6 alternating
    # pairs per workload) read ref_cpu_s medians 38.1 → 42.4 on
    # kg_large_index and 38.0 → 43.3 on kg_incremental, higher in 6
    # of 6 pairs on both.

    # phase-1 argmax as a hash aggregate (min_by over a struct whose
    # lexicographic order encodes (score desc, popularity desc, uri
    # asc)) — map-side partial agg instead of a sort-based window.
    prelim = linked.groupBy(*_CELL_KEY).agg(
        F.min_by(
            "uri",
            F.struct(
                (-F.col("score")).alias("ns"),
                (-F.col("popularity")).alias("np"),
                F.col("uri"),
            ),
        ).alias("uri")
    )
    # consumed by votes and col_n. Both reach the final join as
    # shuffle_hash build sides (votes inside cu_votes), so no
    # broadcast subjob re-runs this aggregate and it needs no barrier:
    # when they were broadcast dims, each broadcast exchange ran as a
    # subjob on its own scheduler thread, raced the main plan, and on
    # about half the runs re-executed the linked-scan+agg subtree
    # instead of reusing its shuffle.

    # type votes and the per-candidate best vote depend only on
    # (table_id, col, uri) — dedup-then-join-back (A10) before the
    # types explode. At fixture scale this shrinks the exploded
    # volume ~2×; at real scale by the rows-per-column factor
    # (columns have 10³-10⁶ cells but few distinct entities).
    prelim_cu = prelim.groupBy("table_id", "col", "uri").agg(
        F.count(F.lit(1)).alias("n")
    )
    # entity_types arrives as a parquet-backed barrier whose file
    # stats drive the join strategy: broadcast while dimension-sized,
    # shuffle join at index scale (10^8 rows). A stats-free
    # localCheckpoint here once inverted the choice — Catalyst
    # broadcast the 1.07M-row fact side and streamed the checkpoint's
    # single partition, serializing the whole explode chain.
    #
    # The vote computation never needs the type STRING — only
    # per-(column, type) counts and a per-candidate max over them — so
    # the closure-expanded type arrays (10-20 long ontology URIs per
    # entity) are hash-encoded to int64 before the two explodes. The
    # explode→shuffle→hash-agg chain is the CPU-fattest JVM stage of
    # the whole pipeline (event-log profiled: ~40% of cea CPU at the
    # sf2.5 scaling corpus); keying it on 8-byte longs instead of
    # ~45-byte strings cuts shuffle bytes and hash/compare cost
    # several-fold. xxhash64 collisions across distinct type URIs
    # (which would merge two types' vote counts) need ~2^32 distinct
    # types to reach even 50% probability — real ontologies have 10³.
    # xxhash64(NULL) returns the seed (a concrete long), not NULL — a
    # null element in `types` would suddenly MATCH across the votes
    # join where the string key never did under SQL null equality.
    # build_entity_types doesn't emit null elements today; drop them
    # defensively so the hash encoding can never change semantics.
    et = entity_types.select(
        "uri",
        F.transform(
            F.filter("types", lambda c: c.isNotNull()),
            lambda c: F.xxhash64(c),
        ).alias("types"),
    )
    votes = (
        prelim_cu.join(et, "uri")
        .select("table_id", "col", "n", F.explode("types").alias("t"))
        .groupBy("table_id", "col", "t")
        .agg(F.sum("n").alias("votes"))
    )
    col_n = prelim.groupBy("table_id", "col").agg(
        F.count(F.lit(1)).alias("n_col")
    )

    col_uri = linked.select("table_id", "col", "uri").dropDuplicates(
        ["table_id", "col", "uri"]
    )
    cu_votes = (
        col_uri.join(et, "uri", "left")
        .select(
            "table_id", "col", "uri", F.explode_outer("types").alias("t")
        )
        # votes is (table, col, type)-scale — it grows with the corpus
        # and can never broadcast at the 10^12-file target, and the
        # probe side here is the exploded type fact (the widest
        # intermediate of the pipeline). shuffle_hash pins the
        # scale-correct plan: hash-join with votes as build side, no
        # sort of the exploded side (the static planner's stats for
        # this computed subtree are estimates and flipped this to a
        # sort-merge join between fixture scales).
        .join(votes.hint("shuffle_hash"), ["table_id", "col", "t"], "left")
        .groupBy("table_id", "col", "uri")
        .agg(F.max(F.coalesce(F.col("votes"), F.lit(0))).alias("max_votes"))
    )
    # linked is unique per (cell, uri) — candidates are deduped by
    # (mention, uri) upstream — so the join-back reproduces exactly the
    # per-(cell, candidate) rows of the direct explode formulation.
    #
    # Both join inputs are pinned shuffle_hash, the same scale
    # argument as the votes join above: cu_votes is (table, col, uri)-
    # distinct and col_n is (table, col)-distinct — both grow with the
    # corpus and can never broadcast at the 10^12-file target. The pin
    # also removes two single-threaded driver-side broadcast hash-
    # relation builds from the measured path (profiled: the cea action
    # was FLAT ~9 s from local[2] to local[8] while every pinned
    # shuffle around it scaled — a broadcast build is serial time that
    # a real 4N cluster would not pay either, because at real scale
    # these joins are shuffles). With no broadcast consumer left,
    # cu_votes no longer needs its re-execution barrier: its fat
    # explode subtree executes exactly once inside the one cea action.
    return (
        linked.join(cu_votes.hint("shuffle_hash"), ["table_id", "col", "uri"])
        .join(col_n.hint("shuffle_hash"), ["table_id", "col"])
        .withColumn(
            "final_score",
            F.col("score")
            + F.lit(TYPE_BONUS) * (F.col("max_votes") / F.col("n_col")),
        )
        .groupBy(*_CELL_KEY)
        .agg(
            F.min_by(
                "uri",
                F.struct(
                    (-F.col("final_score")).alias("nf"),
                    (-F.col("popularity")).alias("np"),
                    F.col("uri"),
                ),
            ).alias("uri")
        )
    )


def cta(
    cea_df: DataFrame,
    entity_types: DataFrame,
    most_specific_udf,
    closure: DataFrame,
) -> DataFrame:
    """→ (table_id, col, cls, ancestors) — most-voted most-specific
    class per column plus its space-joined sorted strict ancestors."""
    # explode the expression, not a column of it: Catalyst infers a
    # size() > 0 filter for the explode of a column and pushes it below
    # the projection with the whole reduction inlined, which then runs
    # twice per entity row
    votes = (
        cea_df.join(entity_types, "uri")
        .select(
            "table_id", "col",
            F.explode(most_specific_udf(F.col("types"))).alias("t"),
        )
        .groupBy("table_id", "col", "t")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    # argmax as cea's: votes desc, then class name asc
    winner = votes.groupBy("table_id", "col").agg(
        F.min_by("t", F.struct((-F.col("votes")).alias("nv"), F.col("t")))
        .alias("cls")
    )
    anc = F.broadcast(
        closure.where(
            (F.col("depth") >= 1)
            & F.col("ancestor_uri").startswith(ONTOLOGY_NS)
            & (F.col("ancestor_uri") != AGENT_CLASS)
            & ~F.col("ancestor_uri").isin(*sorted(AVOID_TOP_CONCEPTS))
        )
    )
    return (
        winner.join(anc, winner.cls == anc.class_uri, "left")
        .groupBy("table_id", "col", "cls")
        .agg(
            F.concat_ws(
                " ", F.array_sort(F.collect_set("ancestor_uri"))
            ).alias("ancestors")
        )
    )


def cpa(cea_df: DataFrame, kg_triples: DataFrame) -> DataFrame:
    """→ (table_id, col_subj, col_obj, pred): most-voted predicate
    linking the main column's entities to each other entity column's
    (test/mergeFiles.py:40-81 target shape; votes derived from the
    triple store as in kg/endpoints.py:342-346)."""
    main = cea_df.groupBy("table_id").agg(F.min("col").alias("col_subj"))
    subj = (
        cea_df.join(main, "table_id")
        .where(F.col("col") == F.col("col_subj"))
        .select("table_id", "row", "col_subj", F.col("uri").alias("s_uri"))
    )
    obj = (
        cea_df.join(main, "table_id")
        .where(F.col("col") != F.col("col_subj"))
        .select(
            "table_id", "row", F.col("col").alias("col_obj"),
            F.col("uri").alias("o_uri"),
        )
    )
    rel = kg_triples.where(
        (~F.col("obj_is_literal"))
        & (F.col("pred") != RDF_TYPE)
        & ~F.col("pred").isin(*sorted(AVOID_PREDICATES))
    ).select(
        F.col("subj").alias("s_uri"), "pred", F.col("obj").alias("o_uri")
    )
    votes = (
        subj.join(obj, ["table_id", "row"])
        .join(rel, ["s_uri", "o_uri"])
        .groupBy("table_id", "col_subj", "col_obj", "pred")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    return votes.groupBy("table_id", "col_subj", "col_obj").agg(
        F.min_by(
            "pred", F.struct((-F.col("votes")).alias("nv"), F.col("pred"))
        ).alias("pred")
    )
