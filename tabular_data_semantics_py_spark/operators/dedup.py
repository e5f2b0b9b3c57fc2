"""Document deduplication operators for large-scale training-data
pipelines: exact (hash-groupBy), word-set Jaccard (exact pairwise via
token inverted index), MinHash+LSH (banded bucket join + exact
verify), and SimHash fingerprints.

Scale design notes
------------------
- exact dedup: one groupBy on ``sha2(text, 256)`` — JVM-side hash,
  map-side partial agg, no Python.
- exact Jaccard: inverted-index self-join on tokens. The per-token
  fan-out is bounded by token document frequency; at web scale you cap
  hot tokens (stopword df cutoff) — exposed as ``max_token_df``.
- MinHash: signatures computed *entirely JVM-side* — explode tokens,
  ``min(xxhash64(token, seed_i))`` per seed — no Python UDF in the
  signature path. LSH bands then bucket-join signature slices;
  candidates are verified with exact Jaccard so precision is 1 and
  recall is governed by (n_hashes, rows_per_band).
- SimHash: vectorized numpy pandas UDF (bit tricks don't fit Spark
  expressions cleanly); output is a 64-bit fingerprint column.
- canonicalization: ``near_dup_canonicalize`` composes the above with
  connected components into the survivor-selection tail a corpus
  dedup actually needs (pair lists alone don't dedup transitive
  chains), with a component-preserving duplicate collapse up front.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from .candidates import drop_hot_keys


def exact_dedup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """→ (text_sha, n_docs, canonical_id): one row per distinct text;
    canonical doc = min id (deterministic survivor pick)."""
    return (
        docs.select(
            F.sha2(F.col(text_col), 256).alias("text_sha"),
            F.col(id_col).alias("id"),
        )
        .groupBy("text_sha")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("id").alias("canonical_id"),
        )
    )


def word_sets(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    ngram: int = 1,
) -> DataFrame:
    """Distinct token sets; ``ngram > 1`` produces word n-gram
    shingles (joined with '\\x1f') — the shingling step that makes
    near-dup similarity *sparse* on natural corpora, which is what the
    LSH banding exploits at scale."""
    toks = F.split(F.col(text_col), " ")
    if ngram == 1:
        arr = toks
    else:
        # arrays_zip over ngram shifted slices: O(T) per doc. (The
        # seemingly-natural transform(sequence(...), i -> slice(toks,
        # i+1, n)) is O(T^2) per doc — slice with a non-literal start
        # re-copies per element — measured 5-10x slower at sf0.1.)
        m = F.greatest(F.size(toks) - (ngram - 1), F.lit(1))
        z = F.arrays_zip(
            *[F.slice(toks, 1 + k, m).alias(f"t{k}") for k in range(ngram)]
        )
        # concat_ws skips the NULLs arrays_zip pads short docs with,
        # matching the partial trailing shingle of the naive form
        arr = F.transform(
            z, lambda s: F.concat_ws("\x1f", *[s[f"t{k}"] for k in range(ngram)])
        )
    return docs.select(
        F.col(id_col).alias("id"), F.array_distinct(arr).alias("words")
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_token_df: int | None = None,
) -> DataFrame:
    """Exact word-set Jaccard near-dup pairs (i < j) with integer
    intersection/union sizes (robust to FP hashing) — the correctness
    baseline the LSH variant is verified against.

    ``max_token_df``: drop tokens appearing in more than this many
    docs from the *pairing* index (hot-token cap for scale). The cap
    governs CANDIDATE GENERATION ONLY — surviving candidates are
    re-verified with an exact intersection over the FULL word sets,
    so emitted (inter, uni) values are always exact and only pairs
    sharing *solely* capped tokens can be missed (the documented
    recall trade-off at web scale). Default None = fully exact.
    """
    ws = word_sets(docs, text_col, id_col)
    sizes = ws.select("id", F.size("words").alias("n"))
    tok = ws.select("id", F.explode("words").alias("w"))
    if max_token_df is None:
        # fully exact: the shared-token count over the complete index
        # IS the intersection — one agg, no array re-intersection
        a = tok.select(F.col("id").alias("i"), "w")
        b = tok.select(F.col("id").alias("j"), "w")
        inter = (
            a.join(b, "w")
            .where(F.col("i") < F.col("j"))
            .groupBy("i", "j")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        sa = sizes.select(F.col("id").alias("i"), F.col("n").alias("ni"))
        sb = sizes.select(F.col("id").alias("j"), F.col("n").alias("nj"))
        return (
            inter.join(sa, "i")
            .join(sb, "j")
            .withColumn("uni", F.col("ni") + F.col("nj") - F.col("inter"))
            .where(F.col("inter") >= F.lit(threshold) * F.col("uni"))
            .select("i", "j", "inter", "uni")
        )
    # capped: the shared-token count over the CAPPED index undercounts
    # the true intersection (a pair sharing hot AND cold tokens would
    # get wrong inter/uni and could be dropped despite being above
    # threshold), so the capped index only generates candidates and
    # the intersection is recomputed exactly from the full sets
    tok = drop_hot_keys(tok, ["w"], max_token_df)
    a = tok.select(F.col("id").alias("i"), "w")
    b = tok.select(F.col("id").alias("j"), "w")
    cand = (
        a.join(b, "w")
        .where(F.col("i") < F.col("j"))
        .select("i", "j")
        .dropDuplicates(["i", "j"])
    )
    wa = ws.select(F.col("id").alias("i"), F.col("words").alias("wi"))
    wb = ws.select(F.col("id").alias("j"), F.col("words").alias("wj"))
    return (
        cand.join(wa, "i")
        .join(wb, "j")
        .withColumn("inter", F.size(F.array_intersect("wi", "wj")))
        .withColumn("uni", F.size("wi") + F.size("wj") - F.col("inter"))
        .where(F.col("inter") >= F.lit(threshold) * F.col("uni"))
        .select("i", "j", "inter", "uni")
    )


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
    ws: DataFrame | None = None,
) -> DataFrame:
    """→ (id, mh_0..mh_{n-1}): per-doc MinHash over word sets, fully
    JVM-side via min(xxhash64(token, seed)). ``ws``: precomputed
    ``word_sets`` output to share with a verification stage."""
    if ws is None:
        ws = word_sets(docs, text_col, id_col, ngram)
    tok = ws.select("id", F.explode("words").alias("w"))
    aggs = [
        F.min(F.xxhash64(F.col("w"), F.lit(i))).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    return tok.groupBy("id").agg(*aggs)


def near_dup_canonicalize(
    docs: DataFrame,
    threshold: float = 0.9,
    n_hashes: int = 16,
    rows_per_band: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Corpus canonicalization — the survivor-selection tail of a
    web-scale dedup pipeline: near-dup pairs → connected components →
    every document mapped to its cluster's canonical id (min id),
    singletons canonical to themselves. A pair list alone doesn't
    dedup a corpus: transitive near-dup chains (A~B, B~C, A̸~C) must
    collapse to ONE survivor, which is exactly the component
    structure. → (id_col, canonical_id, is_canonical).

    Scale shape — collapse-before-pair: duplicate clusters make the
    verified-pair list quadratic (a cluster of c docs is a c²/2-edge
    near-clique; measured 965k pairs over 5k docs at sf0.1), but for
    canonicalization only CONNECTIVITY matters, so docs with identical
    word sets (set-Jaccard 1, invariant under word order/repeats) are
    first collapsed onto a representative via O(n) star edges and the
    LSH+verify stage runs over representatives only (33x fewer pairs
    at sf0.1). Components are provably unchanged: star edges are J=1
    ≥ t edges of the exact-Jaccard graph, and J(rep, x) = J(member, x)
    because the word sets are equal — every exact edge (a, b) maps to
    the path a—rep(a)—rep(b)—b. This is the exactness-preserving
    complement of the ``max_bucket_size`` recall guard.
    """
    from .components import connected_components

    # NULL-text docs have no word set: they can pair with nothing
    # (exact Jaccard over NULL is undefined/false), so they are
    # excluded from keying AND pairing and fall out of the final left
    # join as self-canonical singletons. Without the filter, a NULL
    # set and the empty-text set [''] would both key to sha2("") and
    # be wrongly collapsed as J=1 duplicates.
    ws = (
        word_sets(docs, text_col, id_col, ngram)
        .where(F.col("words").isNotNull())
        .localCheckpoint()
    )
    # injective word-set key: tokens can't contain the space splitter,
    # so a space-joined sorted set is collision-free (sha2 only
    # shortens the shuffle key)
    keyed = ws.select(
        "id",
        F.sha2(F.concat_ws(" ", F.array_sort("words")), 256).alias("wkey"),
    )
    reps = keyed.groupBy("wkey").agg(F.min("id").alias("rep"))
    stars = (
        keyed.join(reps, "wkey")
        .where(F.col("id") != F.col("rep"))
        .select(F.col("id").alias("src"), F.col("rep").alias("dst"))
    )
    ws_reps = ws.join(
        reps.select(F.col("rep").alias("id")), "id"
    ).localCheckpoint()
    pairs = minhash_lsh_pairs(
        docs, threshold, n_hashes=n_hashes, rows_per_band=rows_per_band,
        text_col=text_col, id_col=id_col, ngram=ngram,
        max_bucket_size=max_bucket_size, ws=ws_reps,
    )
    edges = stars.unionByName(
        pairs.select(F.col("i").alias("src"), F.col("j").alias("dst"))
    )
    comp = connected_components(edges).withColumnRenamed("node", id_col)
    canonical = F.coalesce(F.col("component"), F.col(id_col))
    return (
        docs.select(id_col)
        .join(comp, id_col, "left")
        .select(
            id_col,
            canonical.alias("canonical_id"),
            (canonical == F.col(id_col)).alias("is_canonical"),
        )
    )


def band_candidate_pairs(
    band_rows: DataFrame,
    max_bucket_size: int | None = None,
    carry: tuple[str, ...] = (),
    dedup: bool = True,
) -> DataFrame:
    """The LSH banding tail shared by the bucketed similarity families
    (MinHash word sets, SimHash Hamming blocks): optionally drop hot
    buckets, self-join on (band, bucket), keep i < j, dedup candidates
    across bands.

    ``band_rows``: (id, band, bucket [, carry…]). ``carry`` columns
    ride along as <c>_i / <c>_j for the caller's verify stage (e.g.
    the SimHash fingerprint). ``max_bucket_size`` is the standard
    hot-bucket guard — buckets with more members are skipped, bounding
    candidate fan-out to O(bands · members) under massive duplicate
    clusters; a pair is missed only if EVERY bucket containing both
    docs is hot. → (i, j [, carry_i…, carry_j…]), one row per pair.

    ``dedup=False`` skips the cross-band dropDuplicates and returns
    one row per (pair, shared bucket) — for callers whose per-pair
    verify is CHEAPER than shuffling the whole candidate set for the
    dedup (e.g. a one-fold cosine): filter first, then dedup the tiny
    survivor set (filter-then-dedup ≡ dedup-then-filter because the
    verify is a function of the pair alone)."""
    if max_bucket_size is not None:
        band_rows = drop_hot_keys(band_rows, ["band", "bucket"],
                                  max_bucket_size)
    l = band_rows.select(
        F.col("id").alias("i"),
        *[F.col(c).alias(f"{c}_i") for c in carry],
        "band", "bucket",
    )
    r = band_rows.select(
        F.col("id").alias("j"),
        *[F.col(c).alias(f"{c}_j") for c in carry],
        "band", "bucket",
    )
    out = (
        l.join(r, ["band", "bucket"])
        .where(F.col("i") < F.col("j"))
        .select(
            "i", "j",
            *[f"{c}_i" for c in carry],
            *[f"{c}_j" for c in carry],
        )
    )
    return out.dropDuplicates(["i", "j"]) if dedup else out


def _hash_injective_on(df: DataFrame, col, hashed) -> bool:
    """Runtime exactness certificate: True iff ``hashed`` is
    collision-free over the distinct values of ``col`` in ``df`` —
    then for ANY two sets A, B drawn from that domain,
    |h(A) ∩ h(B)| = |A ∩ B|, so set-intersection sizes may be
    computed on the hashed elements. One aggregate (two map-side
    partial distincts), no assumption: a collision simply fails the
    certificate and callers keep the unhashed path."""
    row = df.agg(
        F.countDistinct(col).alias("a"),
        F.countDistinct(hashed).alias("b"),
    ).first()
    return row["a"] == row["b"]


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    n_hashes: int = 16,
    rows_per_band: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
    max_bucket_size: int | None = None,
    ws: DataFrame | None = None,
    hashed_verify: bool | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup detection with exact-Jaccard verification.

    Bands of ``rows_per_band`` signature rows are hashed to buckets;
    docs sharing a bucket become candidate pairs; candidates are
    verified exactly, so output ≡ ``jaccard_pairs`` restricted to
    LSH-recalled pairs. P(miss) = (1 - t^r)^(n/r); defaults give
    (1-t)^16 — ~1e-16 at t=0.9.

    ``max_bucket_size``: the standard LSH hot-bucket guard — buckets
    with more members are skipped for pairing, bounding the candidate
    fan-out to O(B·members) under massive duplicate clusters (the
    100 TB regime where one boilerplate page yields 10^6 copies whose
    buckets would otherwise explode quadratically). Recall trade-off:
    a pair is missed only if EVERY band bucket containing both docs is
    hot. None = exact banding (oracle-checked configs).

    ``ws``: precomputed ``word_sets`` output (must be materialized by
    the caller) — lets a collapse stage restrict the corpus to
    duplicate-group representatives without re-tokenizing.

    Scale shape (r6), both exactness-preserving:

    - **Size prefilter before the expensive verify.** J(a, b) =
      inter/uni ≤ min(|a|,|b|)/max(|a|,|b|) (inter ≤ min, uni ≥ max),
      so any pair failing ``least(n_i, n_j) ≥ t·greatest(n_i, n_j)``
      can never pass the threshold test — two int compares drop it
      before the string-array ``array_intersect`` (and before the
      cross-band dedup shuffle). Monotone in FP too: the same
      ``t·x`` double product is used in both tests. Measured at sf1:
      15.7M candidates → 5.0M intersections, verify 17.3 → 8.7 s.
    - **Duplicate collapse, gated on measured duplication.** Docs
      with identical word sets are grouped (injective sorted-set
      key); the band join + verify run over one representative per
      group and member pairs are expanded back by group equi-joins.
      Provably identical output: the signature, every band bucket,
      and J/inter/uni are all functions of the word SET alone — docs
      in one group share all buckets with inter = uni = |set|, and a
      cross-group pair passes iff its representative pair does, with
      the same (inter, uni). A c-member boilerplate cluster (the
      100 TB quadratic regime) then contributes ONE rep instead of c²
      join rows per band + c²/2 verifications. The collapse itself
      costs a key pass + expansion joins, which is pure overhead when
      sets are mostly distinct (measured 2× slower on the sf1 shingle
      corpus, 49.9k distinct sets / 50k docs), so a one-aggregate
      gate picks the path from the measured duplication ratio — both
      paths are exact, the gate only chooses cost. With a
      ``max_bucket_size`` cap the per-doc banding always runs: bucket
      hotness counts DOCS, so collapsing would change which buckets
      are capped (a recall knob, not an exactness one).
    """
    # shingle once, share between the signature and verify paths (the
    # shingle transform + scan would otherwise run 3x)
    if n_hashes % rows_per_band != 0:
        # silently truncating to n_hashes // rows_per_band bands would
        # ignore trailing signature rows and deliver a worse P(miss)
        # than the formula above advertises
        raise ValueError(
            f"n_hashes ({n_hashes}) must be a multiple of "
            f"rows_per_band ({rows_per_band})"
        )
    if ws is None:
        ws = word_sets(docs, text_col, id_col, ngram).localCheckpoint()

    def _core(ws_in, cap):
        """Band join + size-prefiltered exact verify over a word-set
        frame (the caller materializes it)."""
        sig = minhash_signatures(docs, n_hashes, text_col, id_col,
                                 ngram, ws=ws_in)
        n_bands = n_hashes // rows_per_band
        sizes = ws_in.select("id", F.size("words").alias("n"))
        # one band-row materialization: the bucket self-join consumes
        # both sides (the signature aggregate would otherwise compute
        # twice — the plan-audited duplicated subtree); sizes ride
        # along for the prefilter
        band_rows = (
            sig.join(sizes, "id")
            .select(
                "id", "n",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(b).alias("band"),
                                F.xxhash64(
                                    *[
                                        F.col(f"mh_{b * rows_per_band + r}")
                                        for r in range(rows_per_band)
                                    ]
                                ).alias("bucket"),
                            )
                            for b in range(n_bands)
                        ]
                    )
                ).alias("bb"),
            )
            .select("id", "n", "bb.band", "bb.bucket")
            .localCheckpoint()
        )
        # size prefilter BEFORE the cross-band dedup: the dropped
        # pairs never shuffle
        raw = band_candidate_pairs(band_rows, cap, carry=("n",),
                                   dedup=False)
        cand = (
            raw.where(
                F.least("n_i", "n_j")
                >= F.lit(threshold) * F.greatest("n_i", "n_j")
            )
            .dropDuplicates(["i", "j"])
        )
        # hashed intersect: array_intersect over int64 token hashes is
        # ~3× cheaper than over the shingle strings (measured 6.6 →
        # 2.4 s on the 5M sf1 candidates), and EXACT whenever the
        # hash is collision-free on this corpus's gram domain — the
        # one-aggregate certificate above decides per run; a
        # collision (≈ g²/2⁶⁵ likelihood) just keeps the string path.
        use_hashed = hashed_verify
        if use_hashed is None:
            use_hashed = _hash_injective_on(
                ws_in.select(F.explode("words").alias("w")),
                F.col("w"), F.xxhash64(F.col("w")),
            )
        if use_hashed:
            vsrc = ws_in.select(
                "id",
                F.transform("words", lambda w: F.xxhash64(w)).alias("words"),
            )
        else:
            vsrc = ws_in
        wa = vsrc.select(F.col("id").alias("i"), F.col("words").alias("wi"))
        wb = vsrc.select(F.col("id").alias("j"), F.col("words").alias("wj"))
        return (
            cand.join(wa, "i")
            .join(wb, "j")
            .withColumn("inter", F.size(F.array_intersect("wi", "wj")))
            .withColumn("uni", F.col("n_i") + F.col("n_j") - F.col("inter"))
            .where(F.col("inter") >= F.lit(threshold) * F.col("uni"))
            .select("i", "j", "inter", "uni")
        )

    if max_bucket_size is not None:
        return _core(ws, max_bucket_size)

    # ---- duplication gate (cost-only decision; both paths exact) ----
    # injective word-set key: tokens/shingles cannot contain the space
    # splitter (shingles join with \x1f), so the space-joined sorted
    # set is collision-free; sha2 only shortens the group-join key.
    # NULL word sets never enter the pairing either way (no tokens →
    # no signature row), so dropping them changes nothing.
    # the gate only needs a duplication ESTIMATE, so it hashes the
    # sorted set (xxhash64 over the array — no 1.3 KB string build,
    # no sha); the collapse itself re-keys with the injective
    # sorted-set sha below
    row = ws.where(F.col("words").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.approx_count_distinct(
            F.xxhash64(F.array_sort("words"))
        ).alias("n_sets"),
    ).first()
    if row["n_docs"] == 0 or row["n_sets"] >= 0.5 * row["n_docs"]:
        return _core(ws, None)

    # ---- collapsed path (see docstring) ----
    keyed = ws.where(F.col("words").isNotNull()).select(
        "id",
        F.sha2(F.concat_ws(" ", F.array_sort("words")), 256).alias("_wkey"),
        F.size("words").alias("_n"),
    ).localCheckpoint()
    reps = keyed.groupBy("_wkey").agg(F.min("id").alias("id"))
    ws_reps = ws.join(reps.select("id"), "id").localCheckpoint()
    rep_pairs = _core(ws_reps, None)
    # rep id → group key, then expand each verified rep pair over both
    # member groups; the two groups are distinct, so every (a, b)
    # member pair appears exactly once (ordered by least/greatest)
    rk = keyed.select(F.col("id").alias("_rid"), F.col("_wkey"))
    ma = keyed.select(F.col("_wkey").alias("_ka"), F.col("id").alias("_a"))
    mb = keyed.select(F.col("_wkey").alias("_kb"), F.col("id").alias("_b"))
    cross = (
        rep_pairs
        .join(rk.withColumnRenamed("_rid", "i")
              .withColumnRenamed("_wkey", "_ka"), "i")
        .join(rk.withColumnRenamed("_rid", "j")
              .withColumnRenamed("_wkey", "_kb"), "j")
        .join(ma, "_ka")
        .join(mb, "_kb")
        .select(
            F.least("_a", "_b").alias("i"),
            F.greatest("_a", "_b").alias("j"),
            "inter", "uni",
        )
    )
    # intra-group pairs: identical sets share every band bucket and
    # have inter = uni = |set|; the threshold test is kept verbatim
    # for degenerate thresholds > 1
    intra = (
        keyed.select(F.col("_wkey"), F.col("id").alias("i"),
                     F.col("_n").alias("inter"))
        .join(keyed.select(F.col("_wkey"), F.col("id").alias("j")),
              "_wkey")
        .where(F.col("i") < F.col("j"))
        .withColumn("uni", F.col("inter"))
        .where(F.col("inter") >= F.lit(threshold) * F.col("uni"))
        .select("i", "j", "inter", "uni")
    )
    return cross.unionByName(intra)


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Hamming-neighbor near-dup pairs over 64-bit SimHash via banded
    LSH (Manku/Google block-permuted scheme, simplified to exact-block
    tables): split the fingerprint into ``n_bands`` equal bit blocks;
    docs sharing ANY block value become candidates; candidates are
    verified with ``bit_count(xor) <= max_hamming``.

    Exact for ``max_hamming < n_bands`` (pigeonhole: ≤ max_hamming
    differing bits cannot touch every one of n_bands blocks, so at
    least one block matches exactly) — output ≡ the full pairwise
    Hamming filter. Defaults (4 × 16-bit blocks, distance ≤ 3) are the
    classic web-dedup operating point: 2^16 buckets per band keeps the
    per-bucket fan-out sub-quadratic at corpus scale, and
    ``max_bucket_size`` guards the boilerplate-cluster hot buckets
    exactly like the MinHash-LSH path.

    → (i, j, hamming), i < j.

    Scale shape (r6): when ``max_bucket_size`` is None the banding
    runs COLLAPSED over DISTINCT fingerprints — the fingerprint IS an
    exact group key (bucket membership and the hamming distance are
    both functions of the two fingerprints alone), so the band
    self-join and the hamming verify run over one row per distinct
    fingerprint, and member pairs are expanded back by fingerprint
    equi-joins: equal-fingerprint docs always share every block
    (hamming 0), a cross-fingerprint pair shares a block / passes the
    verify exactly iff its fingerprint pair does. Identical-document
    clusters (the quadratic mass — sum c² ≈ 7.4M per band at sf1)
    stop multiplying through the join and the cross-band dedup; the
    c²/2 output rows come from one plain equi-join at the end.
    With a ``max_bucket_size`` cap the legacy per-doc banding runs:
    hotness counts docs, so collapsing would change which buckets are
    capped.
    """
    if 64 % n_bands != 0 or not 0 <= max_hamming < n_bands:
        # a bare assert would be stripped under python -O, silently
        # dropping pairs whose differing bits touch every block
        raise ValueError(
            f"need 64 % n_bands == 0 and 0 <= max_hamming < n_bands "
            f"for pigeonhole exactness (got n_bands={n_bands}, "
            f"max_hamming={max_hamming})"
        )
    bits = 64 // n_bands
    mask = (1 << bits) - 1
    sig = simhash64(docs, text_col, id_col)

    def _blocks(df, extra: tuple[str, ...]):
        return df.select(
            *extra,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.shiftrightunsigned(F.col("simhash"), b * bits)
                            .bitwiseAND(F.lit(mask))
                            .alias("bucket"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("bb"),
        ).select(*extra, "bb.band", "bb.bucket")

    if max_bucket_size is not None:
        band_rows = _blocks(sig, ("id", "simhash"))
        return (
            band_candidate_pairs(band_rows, max_bucket_size,
                                 carry=("simhash",))
            .withColumn(
                "hamming",
                F.bit_count(
                    F.col("simhash_i").bitwiseXOR(F.col("simhash_j"))
                ).cast("int"),
            )
            .where(F.col("hamming") <= max_hamming)
            .select("i", "j", "hamming")
        )

    # ---- collapsed path (exact; see docstring) ----
    # one UDF pass: the fingerprint frame feeds the distinct-fp
    # banding, both expansion joins, and the intra self-join
    sigc = sig.localCheckpoint()
    fps = sigc.select("simhash").distinct()
    # the fingerprint doubles as the pair id: band_candidate_pairs'
    # (i, j) ARE the two fingerprints, so the hamming verify needs no
    # carry columns at all
    fp_pairs = (
        band_candidate_pairs(
            _blocks(fps.withColumn("id", F.col("simhash")), ("id",)),
            None,
        )
        .withColumn(
            "hamming",
            F.bit_count(F.col("i").bitwiseXOR(F.col("j"))).cast("int"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    ma = sigc.select(F.col("simhash").alias("i"), F.col("id").alias("_a"))
    mb = sigc.select(F.col("simhash").alias("j"), F.col("id").alias("_b"))
    cross = (
        fp_pairs.join(ma, "i")
        .join(mb, "j")
        .select(
            F.least("_a", "_b").alias("i"),
            F.greatest("_a", "_b").alias("j"),
            "hamming",
        )
    )
    intra = (
        sigc.select("simhash", F.col("id").alias("i"))
        .join(sigc.select("simhash", F.col("id").alias("j")), "simhash")
        .where(F.col("i") < F.col("j"))
        .select("i", "j", F.lit(0).cast("int").alias("hamming"))
    )
    return cross.unionByName(intra)


def simhash64(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """→ (id, simhash): 64-bit SimHash over word tokens (hamming-close
    fingerprints ⇒ near-dups).

    Token hashing runs JVM-side (whole-stage-codegen ``xxhash64`` over
    the split token array, mirroring ``minhash_signatures``) — the
    Python stage only receives int64 arrays and does the bit
    expansion, vectorized over each Arrow batch's *distinct* hashes
    (real corpora repeat tokens heavily — Zipf) plus one cumulative
    segment-sum for the per-doc fold. Majority rule: bit set iff
    ones*2 >= n_tokens (ties set the bit), duplicates counted per
    occurrence.
    """
    import numpy as np

    shifts = np.arange(64, dtype=np.uint64)

    @pandas_udf(LongType())
    def _fold(hash_lists: pd.Series) -> pd.Series:
        n_docs = len(hash_lists)
        lens = np.fromiter(
            (len(h) for h in hash_lists), dtype=np.int64, count=n_docs
        )
        out = np.zeros(n_docs, dtype=np.int64)
        total = int(lens.sum())
        if total:
            flat = np.concatenate(
                [np.asarray(h, dtype=np.int64) for h in hash_lists if len(h)]
            ).view(np.uint64)
            uniq, inv = np.unique(flat, return_inverse=True)
            k = len(uniq)
            nz = lens[lens > 0]
            n_nz = len(nz)
            # ±1 bit table: one row per distinct token hash. int32 is
            # safe: per-doc sums are bounded by the doc's token count.
            bit_tab = ((uniq[:, None] >> shifts) & 1).astype(np.int32) * 2 - 1
            if n_nz * k <= total:
                # Zipf path: per-doc distinct-hash counts (bincount)
                # folded by ONE integer matmul against the ±1 table.
                # Work is n_nz*k*64 <= total*64, i.e. never more than
                # the stream pass below, and ~mean_len/k_distinct
                # times less on repetitive corpora (exact — integer
                # arithmetic throughout).
                doc_idx = np.repeat(np.arange(n_nz), nz)
                counts = np.bincount(
                    doc_idx * k + inv, minlength=n_nz * k
                ).reshape(n_nz, k)
                seg = counts @ bit_tab
            else:
                # general path: one segmented sum over the token
                # stream (replaces a (total+1)x64 int64 cumulative-sum
                # buffer — ~9x the traffic — that made whole-corpus
                # Arrow batches crawl).
                starts = np.zeros(n_nz, dtype=np.int64)
                np.cumsum(nz[:-1], out=starts[1:])
                seg = np.add.reduceat(bit_tab[inv], starts, axis=0)
            bits = (seg >= 0).astype(np.uint64)  # == ones*2 >= n
            vals = (bits << shifts).sum(axis=1).astype(np.int64)
            out[lens > 0] = vals
        return pd.Series(out, dtype="int64")

    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda t: t != F.lit(""),
    )
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return docs.select(
        F.col(id_col).alias("id"), _fold(hashes).alias("simhash")
    )
