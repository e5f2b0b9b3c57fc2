"""Candidate entity generation: cell mention → top-k KG entities
(SURVEY.md §2.3 J1 + J3; reference matching/kg_matching.py:476-507,
kg/lookup.py:212-219 rebuilt as local joins — no per-row HTTP).

Dataflow (each stage cites the scale rationale):

1. mention dedup  — ``normalize_expr`` gives each cell its
   ``mention_norm`` as a plain JVM column, then ``dropDuplicates``
   on it before any expensive work: the reference's memo-cache
   pattern (challenge_utils.py:103-118) as dataflow. At 100 TB the
   distinct-mention table is orders of magnitude smaller than the
   cell table.
2. exact match    — equi-join distinct mentions × index keys. This is
   a plain shuffle-hash/broadcast join Catalyst can pick freely; the
   index is NOT assumed broadcastable (10^8-entity scale), mentions
   are. Hot mentions ("USA" in every table) skew the *cells→mention*
   groupBy, not this join, because dedup already collapsed them.
3. fuzzy fallback — only mentions with no exact hit. Token blocking
   (shared ≥1 token) bounds the candidate pairs, then a JVM built-in
   expression scores them (edit similarity + token Jaccard)
   — kg/lookup.py:95-106's ranking, no Python.
4. redirect resolution — ``resolve_redirects``: ≤ REDIRECT_MAX_HOPS
   chained left joins on the redirect edge table (challenge_utils.py:
   441-453 bounded closure), dedup by final URI keeping max score.
5. top-k          — window (score desc, popularity desc, uri asc),
   pinned tie-break (SURVEY.md §7 Determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..constants import FUZZY_MIN_SCORE, REDIRECT_MAX_HOPS, TOP_K_CANDIDATES
from ..functions.normalize import lexical_score_expr, normalize_expr


def build_index_keys(entity_index: DataFrame) -> DataFrame:
    """entity_index → (uri, popularity, key_norm) — one row per
    normalized label/alias surface form (kg/lookup.py:162-209 role),
    normalized per row by the same JVM expression as the mentions."""
    keys = entity_index.select(
        "uri",
        "popularity",
        F.explode(
            # coalesce: array_union(x, NULL) is NULL, so an entity
            # with NULL aliases (legal under the nullable source
            # schemas) would otherwise lose its LABEL key too and
            # become unmatchable by both the exact and fuzzy paths
            F.array_union(
                F.array(F.col("label")),
                F.coalesce(F.col("aliases"), F.array().cast("array<string>")),
            )
        ).alias("key_raw"),
    )
    return (
        keys.select(
            "uri", "popularity", normalize_expr(F.col("key_raw")).alias("key_norm")
        )
        .where(F.col("key_norm") != "")
        .dropDuplicates(["uri", "key_norm"])
    )


def resolve_redirects(
    df: DataFrame, entity_index: DataFrame, col: str = "uri"
) -> DataFrame:
    """``df`` with each URI in ``col`` replaced by its redirect target,
    followed for at most REDIRECT_MAX_HOPS chained left joins
    (challenge_utils.py:441-453 bounded closure). Only advance to a
    target that exists in the index — a dangling redirect keeps the
    source URI (the oracle's COALESCE(c.uri, b.uri, a.uri) LEFT-JOIN
    semantics)."""
    # NO broadcast hint (VERDICT r04 #4): redirect pages are ordinary
    # entities, so the redirect table is a MATERIAL fraction of the
    # entity index — at the 10^8-entity target it is far past
    # broadcast size, and a forced hint would OOM executors (the same
    # reason the index join in generate_candidates carries no hint).
    # Parquet stats / AQE pick broadcast on their own while the table
    # is small — docs/explain_redirect_join.txt pins the fixture-scale
    # plan at BroadcastHashJoin with no hint present.
    redirects = (
        entity_index.where(F.col("redirect_to").isNotNull())
        .join(
            entity_index.select(F.col("uri").alias("_tgt")),
            F.col("redirect_to") == F.col("_tgt"),
            "left_semi",
        )
        .select(F.col("uri").alias("r_src"), F.col("redirect_to").alias("r_dst"))
    )
    for _ in range(REDIRECT_MAX_HOPS):
        df = df.join(redirects, df[col] == redirects.r_src, "left").select(
            *[
                F.coalesce(F.col("r_dst"), F.col(c)).alias(c) if c == col else c
                for c in df.columns
            ]
        )
    return df


def generate_candidates(
    data_cells: DataFrame,
    entity_index: DataFrame,
    fused: bool = False,  # unused; kgbench/tracing.py still passes it
) -> tuple[DataFrame, DataFrame]:
    """Returns (cells_with_mention, candidates), both lazy.

    cells_with_mention: data cells + ``mention_norm`` column.
    candidates: (mention_norm, uri, score, popularity) — redirect-
    resolved, deduped, top-k ranked per mention.
    """
    cells = data_cells.withColumn("mention_norm", normalize_expr(F.col("cell")))
    mentions = (
        cells.select("mention_norm")
        .where(F.col("mention_norm") != "")
        .dropDuplicates(["mention_norm"])  # A10 dedup
    )
    index_keys = build_index_keys(entity_index)

    exact = mentions.join(
        index_keys, mentions.mention_norm == index_keys.key_norm
    ).select("mention_norm", "uri", F.lit(1.0).alias("score"))

    # fuzzy fallback for mentions with no exact hit (token blocking),
    # anti-joined to the index keys, not to ``exact`` (the same set),
    # whose AQE plan varied with which reused stage finished first
    unmatched = mentions.join(
        index_keys, mentions.mention_norm == index_keys.key_norm, "left_anti"
    )
    m_tok = unmatched.select(
        "mention_norm",
        F.explode(F.split(F.col("mention_norm"), " ")).alias("tok"),
    )
    i_tok = index_keys.select(
        "uri", "key_norm", F.explode(F.split(F.col("key_norm"), " ")).alias("tok")
    )
    # a (mention, key) pair that shares several tokens joins once per
    # token; the max below scores it the same with or without dedup
    fuzzy = (
        m_tok.join(i_tok, "tok")
        .withColumn(
            "pair_score",
            lexical_score_expr(F.col("mention_norm"), F.col("key_norm")),
        )
        .groupBy("mention_norm", "uri")
        .agg(F.max("pair_score").alias("score"))
        .where(F.col("score") >= F.lit(FUZZY_MIN_SCORE))
        .select("mention_norm", "uri", "score")
    )

    cands = resolve_redirects(exact.unionByName(fuzzy), entity_index)

    # keep only URIs present in the index; attach final popularity;
    # dedup by final URI keeping max score. The index side's parquet
    # stats drive the join strategy: broadcast while small, shuffle
    # join at 10^8-entity scale — no hint needed
    ent_pop = entity_index.select("uri", "popularity")
    cands = (
        cands.join(ent_pop, "uri")
        .groupBy("mention_norm", "uri")
        .agg(F.max("score").alias("score"), F.first("popularity").alias("popularity"))
    )

    w = Window.partitionBy("mention_norm").orderBy(
        F.desc("score"), F.desc("popularity"), F.asc("uri")
    )
    ranked = (
        cands.withColumn("cand_rank", F.row_number().over(w))
        .where(F.col("cand_rank") <= TOP_K_CANDIDATES)
    )
    return cells, ranked
