"""Embedding similarity search: brute-force cosine (correctness
baseline) and IVF-bucketed ANN (scale path).

Cosine is computed with ``aggregate``/``zip_with`` column expressions
— sequential IEEE-double folds that stay inside whole-stage codegen
and match an ANSI-SQL oracle bit-for-bit. The ANN path uses numpy GEMM
inside ``mapInPandas`` against a broadcast centroid/query matrix — the
pattern that scales to 10^9 vectors (per-partition BLAS, no shuffle of
the big side).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_expr(a, b):
    """Sequential-fold cosine: dot/(sqrt(dot_aa)*sqrt(dot_bb)) over
    double-cast arrays — deterministic, SQL-oracle-matchable.

    A zero-norm vector (e.g. the embedding of an empty document) has
    no defined cosine: the denominator is nullif-guarded so the result
    is NULL — which fails every downstream ``>= threshold`` filter and
    the top-k NULL filter — instead of raising DIVIDE_BY_ZERO under
    Spark 4's default ANSI mode (where one degenerate row would abort
    the whole job). Non-zero denominators are untouched, so the
    bit-for-bit oracle parity holds wherever cosine is defined."""
    ad, bd = _as_double(a), _as_double(b)
    denom = F.sqrt(_dot(ad, ad)) * F.sqrt(_dot(bd, bd))
    return _dot(ad, bd) / F.nullif(denom, F.lit(0.0))


def valid_vectors(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Rows whose vector the numpy (mapInPandas/applyInPandas) stages
    can consume: non-NULL and free of NULL elements. The JVM
    expression paths null such rows out of results naturally (cosine
    over NULL is NULL and fails every filter/rank); ``np.array(...,
    dtype=float64)`` would instead raise inside the worker and kill
    the job — so every GEMM-stage entry point shares this JVM-side
    pre-filter. Zero vectors are KEPT: their cosine is NULL (nullif
    guard in ``cosine_expr``), so they pair with nothing, identically
    in both path families. Ragged dimensions remain a caller
    precondition (one embedding model per table)."""
    return emb.where(
        F.col(vec_col).isNotNull()
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    )


def cosine_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (i < j) with cosine ≥ threshold — embedding near-dup
    detection. O(n²) reference implementation; the LSH/IVF variants
    bound the candidate set at scale."""
    a = emb.select(F.col(id_col).alias("i"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("j"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("i") < F.col("j"))
        .withColumn("cos", cosine_expr(F.col("va"), F.col("vb")))
        .where(F.col("cos") >= threshold)
        .select("i", "j")
    )


def knn_bruteforce(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (query_id, neighbor_id, rank): exact top-k cosine neighbors
    for the given query ids. The query side is tiny → broadcast
    nested-loop join; rank ties broken by neighbor id. Top-k is the
    shared two-phase reduction (``_two_phase_topk``), never a
    single-task window sort.

    Self-norms are precomputed per SIDE below the join (a Project on
    each input), not per pair: ``cosine_expr`` inline would re-fold
    ``sqrt(dot(v,v))`` for both vectors on every (candidate, query)
    row — 3 array folds per pair where only the cross dot actually
    varies. Per-pair work drops to ONE fold (~3× fewer flops; r5
    measured 2.7 → 1.1 s at sf0.1). Bit-parity with the oracle is
    unchanged: the norms are the same IEEE doubles, just computed
    once, and the quotient keeps the exact ``dot / nullif(na*nb, 0)``
    shape (NULL for zero-norm vectors, never DIVIDE_BY_ZERO)."""
    def _with_norm(df, id_alias, v_alias, n_alias):
        return df.select(
            F.col(id_col).alias(id_alias),
            _as_double(F.col(vec_col)).alias(v_alias),
        ).withColumn(n_alias, F.sqrt(_dot(F.col(v_alias), F.col(v_alias))))

    q = _with_norm(emb.where(F.col(id_col).isin(query_ids)),
                   "query_id", "qv", "qn")
    c = _with_norm(emb, "neighbor_id", "cv", "cn")
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            _dot(F.col("qv"), F.col("cv"))
            / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0)),
        )
    )
    return _two_phase_topk(scored, "neighbor_id", k)


def _two_phase_topk(scored: DataFrame, nid_col: str, k: int) -> DataFrame:
    """(query_id, <nid_col>, cos) → (query_id, neighbor_id, rank):
    exact per-query top-k by (cos desc, neighbor id asc), shared by
    the brute-force and IVF paths. Ascending (-cos, nid) == the
    desired order; SQL comparison treats -0.0 == 0.0, so the negation
    cannot flip any ordering a window formulation wouldn't also flip.

    Phase 1 takes each scan partition's local top-k per query
    (array_sort of a partition-bounded collect_list — no shuffle),
    phase 2 merges the partitions x k survivors per query. A
    ``row_number() over (partition by query_id)`` would instead
    shuffle ALL n scored rows to one task per query and sort them
    there — the single-task-sort shape that breaks at 10^9 vectors
    (same fix as the fragment caps, operators/topk.py). Exact same
    rows out: top-k with a deterministic order is plan-independent."""
    # NULL cos = undefined similarity (zero-norm or NULL embedding on
    # either side): never a neighbor. Also load-bearing for ordering —
    # array_sort places a NULL struct field FIRST, so an unfiltered
    # NULL score would outrank every real neighbor.
    scored = scored.where(F.col("cos").isNotNull())
    key = F.struct(
        (-F.col("cos")).alias("nc"), F.col(nid_col).alias("nid")
    )
    local = scored.groupBy(
        "query_id", F.spark_partition_id().alias("_pid")
    ).agg(F.slice(F.array_sort(F.collect_list(key)), 1, k).alias("top"))
    merged = (
        local.select("query_id", F.explode("top").alias("s"))
        .groupBy("query_id")
        .agg(F.slice(F.array_sort(F.collect_list("s")), 1, k).alias("top"))
    )
    return merged.select(
        "query_id", F.posexplode("top").alias("pos", "s")
    ).select(
        "query_id",
        F.col("s.nid").alias("neighbor_id"),
        (F.col("pos") + 1).cast("int").alias("rank"),
    )


def cosine_pairs_blocked(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
    margin: float = 1e-6,
) -> DataFrame:
    """Block-partitioned GEMM cosine pairs — the pattern that scales:
    NOTHING is collected to the driver.

    1. Each vector gets a deterministic block id ``pmod(xxhash64(id),
       B)``; it is replicated to every block *pair* it participates in
       (≤ B+1 copies — the classic block nested-loop replication,
       total shuffle O(n·B) with B ≈ √(n/rows_per_task)).
    2. ``applyInPandas`` per block pair runs one float64 BLAS GEMM over
       the pair's two sub-matrices and emits candidate pairs at
       ``threshold - margin``.
    3. Candidates (tiny vs n²) are re-verified JVM-side with the exact
       sequential-fold ``cosine_expr`` at ``threshold`` — the SAME
       operation order as the ANSI-SQL oracle, so GEMM's different FP
       rounding can never flip a boundary pair (ADVICE round-1 note).

    Output ≡ ``cosine_pairs``.
    """
    emb = valid_vectors(emb, vec_col)
    tagged = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
        .cast("int").alias("blk"),
    )
    # L side covers pairs (blk, bj) for bj >= blk (incl. the diagonal);
    # R side covers pairs (bi, blk) for bi < blk — each unordered block
    # pair sees every member exactly once per side
    lside = tagged.select(
        "vid", "vec",
        F.col("blk").alias("bi"),
        F.explode(
            F.sequence(F.col("blk"), F.lit(n_blocks - 1))
        ).alias("bj"),
        F.lit(True).alias("is_l"),
    ).select("bi", "bj", "vid", "vec", "is_l")
    rside = tagged.select(
        "vid", "vec",
        F.explode(
            F.when(
                F.col("blk") > 0,
                F.sequence(F.lit(0), F.col("blk") - 1),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit(False).alias("is_l"),
    ).select("bi", "bj", "vid", "vec", "is_l")

    cut = threshold - margin

    def gemm(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        bi, bj = key
        empty = pd.DataFrame(
            {"i": pd.Series(dtype="int64"), "j": pd.Series(dtype="int64")}
        )
        lm = pdf[pdf["is_l"].to_numpy()]
        if not len(lm):  # one-sided group (a hash block can be empty)
            return empty
        ids_l = lm["vid"].to_numpy()
        L = np.array(list(lm["vec"]), dtype=np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            Ln = L / np.linalg.norm(L, axis=1, keepdims=True)
            if bi == bj:
                sims = Ln @ Ln.T
                ids_r = ids_l
            else:
                rm = pdf[~pdf["is_l"].to_numpy()]
                if not len(rm):
                    return empty
                ids_r = rm["vid"].to_numpy()
                R = np.array(list(rm["vec"]), dtype=np.float64)
                Rn = R / np.linalg.norm(R, axis=1, keepdims=True)
                sims = Ln @ Rn.T
        mask = (sims >= cut) & (ids_l[:, None] != ids_r[None, :])
        r, c = np.nonzero(mask)
        ii, jj = ids_l[r], ids_r[c]
        lo = np.minimum(ii, jj)
        hi = np.maximum(ii, jj)
        keep = lo < hi
        out = pd.DataFrame({"i": lo[keep], "j": hi[keep]})
        return out.drop_duplicates()  # diagonal emits both (i,j),(j,i)

    cand = (
        lside.unionByName(rside)
        .groupBy("bi", "bj")
        .applyInPandas(gemm, "i long, j long")
    )

    # exact fold-order re-verification (operand order == oracle)
    va = emb.select(F.col(id_col).alias("i"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("j"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "i")
        .join(vb, "j")
        .where(cosine_expr(F.col("va"), F.col("vb")) >= threshold)
        .select("i", "j")
    )


def srp_hyperplanes(n_bits: int, dim: int, seed: int = 7):
    """Deterministic Rademacher (±1) hyperplane matrix for signed
    random projection, n_bits × dim float64. Component d of hyperplane
    b is bit (d % 64) of the pure-Python XXH64 mirror
    (functions/xxh64.py) hashed at word index ``b·ceil(dim/64) +
    d//64`` — the same constants any executor or oracle re-derives
    from (n_bits, dim, seed) alone, so nothing needs to ship with the
    job. Rademacher components satisfy the SRP collision property
    P(sign match) ≈ 1 − θ/π the same as Gaussian ones."""
    import numpy as np

    from ..functions.xxh64 import spark_xxhash64

    n_words = (dim + 63) // 64
    H = np.empty((n_bits, dim), dtype=np.float64)
    for b in range(n_bits):
        bits = []
        for w in range(n_words):
            h = spark_xxhash64((b * n_words + w, "int"), seed=seed)
            h &= (1 << 64) - 1
            bits.extend(1.0 if (h >> i) & 1 else -1.0 for i in range(64))
        H[b] = bits[:dim]
    return H


def srp_lsh_pairs(
    emb: DataFrame,
    spark,
    threshold: float,
    n_bits: int = 128,
    n_bands: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    seed: int = 7,
) -> DataFrame:
    """Signed-random-projection LSH near-dup pairs — the LSH-bucketed
    scale path for embedding-cosine near-dup (the brief's named
    alternative to IVF). Same three-stage shape as ``minhash_lsh_pairs``
    (operators/dedup.py):

    1. signature: each vector's n_bits sign bits of V·Hᵀ against the
       deterministic Rademacher hyperplanes (one float64 GEMM per Arrow
       batch inside ``mapInPandas`` — no shuffle, no driver traffic);
    2. banding: bits packed into ``n_bands`` band keys; vectors sharing
       any (band, key) bucket become candidate pairs via a bucket
       equi-join (never all-pairs). ``max_bucket_size`` is the standard
       hot-bucket guard for the 10^6-copy boilerplate-cluster regime;
    3. verify: candidates re-checked JVM-side with the exact
       sequential-fold ``cosine_expr`` at ``threshold`` — the same
       operand order as the brute-force baseline and the SQL oracle, so
       output rows are exact.

    Output = { (i<j) : cosine ≥ threshold AND the pair shares ≥1 band
    bucket }. Recall vs the full cosine set for a pair at cosine c is
    1 − (1 − p^r)^b with p = 1 − arccos(c)/π, r = n_bits/n_bands:
    ≥ 0.996 at c = 0.9 and ≥ 1 − 2e-8 at c = 0.95 with the defaults —
    the near-dup regime LSH exists for (asserted on a clustered
    synthetic in tests/test_similarity.py; the isotropic testdata
    exercises the exact candidate∩verify contract via the VALUES
    oracle instead)."""
    import numpy as np

    if n_bits % n_bands:
        raise ValueError("n_bits must be a multiple of n_bands")
    r_bits = n_bits // n_bands
    if r_bits > 63:
        raise ValueError("band keys must fit a signed long")
    emb = valid_vectors(emb, vec_col)
    head = emb.select(vec_col).first()
    if head is None:
        raise ValueError("srp_lsh_pairs: empty embedding table")
    dim = len(head[0])
    vec_type = dict(emb.dtypes)[vec_col]
    bH = spark.sparkContext.broadcast(srp_hyperplanes(n_bits, dim, seed))

    def signatures(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        H = bH.value
        weights = 1 << np.arange(r_bits, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            # Quantize to integer-valued float64 before projecting:
            # with ±1 hyperplane components every partial sum is then
            # an exact integer (bounded by dim·2^26 « 2^53), so the
            # sign bit is identical under ANY summation order — BLAS
            # GEMM here, a sequential per-component loop in the
            # oracle. Unquantized float64 has no such guarantee: a
            # projection that cancels to ~1e-16 can flip sign between
            # pairwise/SIMD and sequential folds. The ≤ 2^-17 per-
            # component quantization error only perturbs CANDIDATE
            # generation (LSH is approximate there by construction);
            # the verify cosine below still runs on the original
            # vectors in the exact oracle operand order.
            Q = np.rint(V * 65536.0)
            bits = (Q @ H.T) > 0  # n × n_bits
            keys = (
                bits.reshape(len(V), n_bands, r_bits).astype(np.int64)
                @ weights
            )
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "vec": pdf[vec_col],
                    "keys": list(keys),
                }
            )

    # Rebalance the vectors before the signature GEMM: a single
    # unsplittable input (one parquet row group puts every row into
    # one scan split regardless of maxPartitionBytes) would otherwise
    # run the GEMM on ONE task (guide §2.5 input skew; measured 102 s
    # vs 6 s at sf1). Width follows the session's shuffle width
    # (defaultParallelism is pinned to it, scale-adaptive). The
    # vectors ride along into the band rows: the candidate stage
    # below consumes them per (band, bucket) — the n_bands-fold
    # vector replication through the bucket groupBy is the same
    # replication trade ``cosine_pairs_blocked`` makes for its block
    # pairs.
    band_rows = (
        emb.select(id_col, vec_col)
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(
            signatures, f"id long, vec {vec_type}, keys array<long>"
        )
        .select("id", "vec", F.posexplode("keys").alias("band", "bucket"))
        .localCheckpoint()
    )
    if max_bucket_size is not None:
        from .candidates import drop_hot_keys

        band_rows = drop_hot_keys(band_rows, ["band", "bucket"],
                                  max_bucket_size)

    # Candidates via ONE float64 GEMM per (band, bucket) group with a
    # tiny margin, then the exact sequential-fold re-verify at
    # ``threshold`` — the ``cosine_pairs_blocked`` pattern. This
    # replaces the r5 shape (bucket self-join + per-pair JVM cosine
    # folds + a 14.7M-row cross-band dedup Exchange, ~48 s at sf1):
    # the ~n²/bucket_width candidate dot products run in BLAS
    # (measured 1.5–2.7 s for the same 35,759 sf1 survivors), and
    # only survivors ever shuffle. Exactness: the margin absorbs
    # GEMM's FP reassociation (≲ 1e-13 for 64-dim f64, margin 1e-6),
    # so no pair the exact fold accepts is dropped; NaN / zero-norm
    # vectors yield NaN sims, fail the cut, and were equally excluded
    # by the fold path's NULL cosine. The bucket grouping itself IS
    # the candidate contract (pairs sharing ≥ 1 band bucket).
    cut = threshold - 1e-6

    def partition_gemms(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one Python dispatch per PARTITION, buckets grouped locally:
        # applyInPandas would dispatch per (band, bucket) group —
        # n_bands·2^r_bits groups of a few rows each, whose per-group
        # overhead dominated at small scale (measured +0.6 s on 2k
        # vectors). The hash repartition below keeps whole buckets in
        # one partition, so concatenating the partition's batches is
        # safe.
        bl = list(batches)
        pdf = pd.concat(bl, ignore_index=True) if bl else None
        out_i: list = []
        out_j: list = []
        if pdf is not None and len(pdf):
            for _, g in pdf.groupby(["band", "bucket"], sort=False):
                if len(g) < 2:
                    continue
                ids = g["id"].to_numpy()
                V = np.array(list(g["vec"]), dtype=np.float64)
                with np.errstate(invalid="ignore", divide="ignore"):
                    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
                    sims = Vn @ Vn.T
                r, c = np.nonzero(sims >= cut)
                keep = ids[r] < ids[c]
                out_i.append(ids[r][keep])
                out_j.append(ids[c][keep])
        if out_i:
            yield pd.DataFrame({
                "i": np.concatenate(out_i), "j": np.concatenate(out_j)
            })
        else:
            yield pd.DataFrame({"i": pd.Series(dtype="int64"),
                                "j": pd.Series(dtype="int64")})

    cand = (
        band_rows
        .repartition(spark.sparkContext.defaultParallelism,
                     "band", "bucket")
        .mapInPandas(partition_gemms, "i long, j long")
        .dropDuplicates(["i", "j"])
    )

    # exact re-verify with per-side precomputed norms (one cross-dot
    # fold per survivor): the same IEEE doubles and operand order as
    # ``cosine_expr`` / the SQL oracle — dot / nullif(na·nb, 0)
    def _side(ia, va_, na_):
        return emb.select(
            F.col(id_col).alias(ia),
            _as_double(F.col(vec_col)).alias(va_),
        ).withColumn(na_, F.sqrt(_dot(F.col(va_), F.col(va_))))

    return (
        cand.join(_side("i", "va", "na"), "i")
        .join(_side("j", "vb", "nb"), "j")
        .where(
            _dot(F.col("va"), F.col("vb"))
            / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0))
            >= threshold
        )
        .select("i", "j")
    )


def srp_neardup_canonicalize(
    emb: DataFrame,
    spark,
    threshold: float,
    n_bits: int = 128,
    n_bands: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    seed: int = 7,
) -> DataFrame:
    """Embedding-side corpus canonicalization — the survivor-selection
    tail over the SRP-LSH near-dup graph, mirroring the document
    family's ``dedup.near_dup_canonicalize``: SRP pairs → connected
    components (alternating large/small-star) → every vector mapped to
    its cluster's canonical id (min id), singletons self-canonical.
    A pair list alone doesn't dedup an embedding corpus: transitive
    near-dup chains (cos(a,b) ≥ τ, cos(b,c) ≥ τ, cos(a,c) < τ) must
    still collapse to ONE survivor, which is exactly the component
    structure. → (id_col, canonical_id, is_canonical)."""
    from .components import connected_components

    pairs = srp_lsh_pairs(
        emb, spark, threshold, n_bits=n_bits, n_bands=n_bands,
        id_col=id_col, vec_col=vec_col, max_bucket_size=max_bucket_size,
        seed=seed,
    )
    comp = connected_components(pairs, src="i", dst="j")
    ids = emb.select(F.col(id_col).alias("node"))
    return (
        ids.join(comp, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", "node").alias("canonical_id"),
            (F.coalesce("component", "node") == F.col("node")).alias(
                "is_canonical"
            ),
        )
    )


def train_ivf_centroids(
    emb: DataFrame,
    spark,
    n_centroids: int = 8,
    kmeans_iters: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Seeded IVF centroid training, fully distributed:

    - init: deterministic hash-sample ``orderBy(xxhash64(id, seed))
      .limit(k)`` — representative regardless of id layout (the
      round-1 'first k ids' seed collapses when low ids cluster);
    - ``kmeans_iters`` Lloyd iterations where each mapInPandas
      partition emits per-centroid partial (count, sum-vector) — the
      map-side-combine pattern: the driver only ever sees
      k × n_partitions tiny rows, never vectors.

    Returns the normalized centroid matrix (numpy, k × dim).
    """
    import numpy as np

    def _norm(M):
        with np.errstate(invalid="ignore", divide="ignore"):
            return M / np.linalg.norm(M, axis=1, keepdims=True)

    emb = valid_vectors(emb, vec_col)
    init_rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    C = _norm(np.array([list(r[1]) for r in init_rows], dtype=np.float64))
    sc = spark.sparkContext

    for _ in range(kmeans_iters):
        bC = sc.broadcast(C)

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            Cl = bC.value
            acc_n = np.zeros(len(Cl), dtype=np.int64)
            acc_s = np.zeros_like(Cl)
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.array(list(pdf[vec_col]), dtype=np.float64)
                Vn = _norm(V)
                a = np.nan_to_num(Vn @ Cl.T).argmax(axis=1)
                np.add.at(acc_n, a, 1)
                np.add.at(acc_s, a, np.nan_to_num(Vn))
            nz = np.nonzero(acc_n)[0]
            # explicit dtypes: an empty partition yields zero rows, and
            # a default-constructed empty "s" column is float64 — which
            # Arrow cannot convert to list<double>
            yield pd.DataFrame(
                {
                    "c": pd.Series(nz, dtype="int64"),
                    "n": pd.Series(acc_n[nz], dtype="int64"),
                    "s": pd.Series(
                        [acc_s[i].tolist() for i in nz], dtype="object"
                    ),
                }
            )

        rows = (
            emb.select(vec_col)
            .mapInPandas(partials, "c long, n long, s array<double>")
            .collect()
        )
        cnt = np.zeros(len(C), dtype=np.int64)
        sm = np.zeros_like(C)
        for r in sorted(rows, key=lambda r: r["c"]):
            cnt[r["c"]] += r["n"]
            sm[r["c"]] += np.array(r["s"], dtype=np.float64)
        moved = cnt > 0
        C = C.copy()
        C[moved] = sm[moved] / cnt[moved, None]
        C = _norm(C)
    return C


def ivf_knn(
    emb: DataFrame,
    spark,
    query_ids: list[int],
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 2,
    kmeans_iters: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: seeded-sample + k-means-trained centroids
    (``train_ivf_centroids``), vectors assigned to their nearest
    centroid *carrying the vector through the assignment* (no fact-
    table self-join), search only the ``n_probe`` closest centroids
    per query. Approximate by construction (rows-only correctness
    check; recall@k vs the exact kNN asserted in pytest).
    """
    import numpy as np

    # both the driver-side query matrix and the assignment GEMM go
    # through numpy — share the NULL-vector pre-filter
    emb = valid_vectors(emb, vec_col)
    q_rows = emb.where(F.col(id_col).isin(query_ids)).collect()
    if not q_rows:
        # empty/unknown query set: return an empty result with the
        # normal schema (knn_bruteforce degrades the same way) rather
        # than letting numpy raise on a zero-row matrix
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank int"
        )

    Cn = train_ivf_centroids(
        emb, spark, n_centroids, kmeans_iters, seed, id_col, vec_col
    )
    bC = spark.sparkContext.broadcast(Cn)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Cl = bC.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            with np.errstate(invalid="ignore", divide="ignore"):
                Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            out = pdf[[id_col, vec_col]].copy()
            out["centroid"] = np.nan_to_num(Vn @ Cl.T).argmax(axis=1)
            yield out

    inv = emb.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, {vec_col} array<double>, centroid int"
    )

    Q = np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    probes = np.argsort(-np.nan_to_num(Qn @ Cn.T), axis=1)[:, :n_probe]
    probe_pdf = pd.DataFrame(
        [
            (int(r[id_col]), int(c))
            for r, pr in zip(q_rows, probes)
            for c in pr
        ],
        columns=["query_id", "centroid"],
    )
    probe_df = spark.createDataFrame(probe_pdf, "query_id long, centroid int")
    q_pdf = pd.DataFrame(
        [
            (int(r[id_col]), [float(x) for x in r[vec_col]])
            for r in q_rows
        ],
        columns=["query_id", "qv"],
    )
    qdf = spark.createDataFrame(q_pdf, "query_id long, qv array<double>")
    cand = (
        inv.join(F.broadcast(probe_df), "centroid")
        .join(F.broadcast(qdf), "query_id")
        .where(F.col(id_col) != F.col("query_id"))
        .withColumn("cos", cosine_expr(F.col("qv"), F.col(vec_col)))
    )
    return _two_phase_topk(cand, id_col, k)


def quantize_int8(emb: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """→ (vec_id, scale, qvec): symmetric int8 scalar quantization of
    an embedding column — scale = 127 / max|x|, q_i = ⌊x·scale + 0.5⌋
    — the 4× storage cut (float32 → int8) that a 100 TB ANN corpus
    takes before indexing; dequantization is q/scale with bounded
    error 0.5/scale per component.

    Map-only whole-stage codegen (transform / array_max / floor): no
    shuffle, no UDF. The rounding is the floor(x+0.5) half-up form
    deliberately: both Spark and the DuckDB oracle evaluate it with
    identical IEEE-double ops (float elements are promoted exactly),
    so quantized codes match bit-for-bit — ROUND() would instead pit
    Java HALF_UP against C round() ties. Degenerates: NULL vector,
    all-zero vector (scale undefined), or a non-finite (NaN/±Inf)
    component → NULL scale and NULL qvec; a NULL *element*
    propagates as a NULL code in an otherwise-quantized vector.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, F.abs))
    # 0 < max|x| < inf: excludes the zero vector AND non-finite
    # components in one range check — both Spark and DuckDB order NaN
    # GREATER than +inf, so `max_abs < inf` rejects NaN identically
    # on both sides (an Inf component would otherwise give scale = 0
    # and a meaningless all-zero code vector)
    ok = (
        max_abs.isNotNull() & (max_abs > 0)
        & (max_abs < F.lit(float("inf")))
    )
    scale = F.when(ok, F.lit(127.0) / max_abs)
    return emb.select(
        F.col(id_col).alias("vec_id"),
        scale.alias("scale"),
        F.when(
            ok,
            F.transform(v, lambda x: F.floor(x * scale + F.lit(0.5))
                        .cast("int")),
        ).alias("qvec"),
    )
