"""Corpus-curation operators a large-scale training-data pipeline
needs beyond per-doc scoring: boilerplate n-gram detection (the
line/paragraph-dedup analogue for a corpus whose documents are
single-line token streams), benchmark-contamination overlap, and
deterministic stratified sampling for mixture building.

All hot paths are pure ``pyspark.sql.functions`` (JVM, whole-stage
codegen): n-grams come from ``sequence``+``slice``+``array_join``
(no Python), document frequencies from one hash-partitioned groupBy
with map-side partial aggregation, and the stratified sample is a
*map-side-only* hash-threshold filter — no shuffle at all, which is
the shape that survives 100 TB (a rank-per-language window would
funnel each language through one reducer).

Reference analogue: the reference curates corpora driver-side
(test/challenge_utils.py working-subset construction, ~400k-table
GS); these operators are the distributed re-expression of that
curation stage plus the standard web-pipeline additions (CCNet-style
boilerplate removal, eval-set decontamination).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# hash-threshold sampling modulus: rate r keeps pmod(h, M) < r*M
SAMPLE_MOD = 1_000_000

# per-language keep rates for the mixture-building sample (anything
# not listed falls to DEFAULT_RATE — incl. NULL lang)
DEFAULT_LANG_RATES: dict[str, float] = {
    "en": 0.50,
    "de": 0.25,
    "es": 0.25,
    "fr": 0.25,
}
DEFAULT_RATE = 0.10


def ngram_array(text_col, n: int):
    """Array of word n-grams (space-joined) over the whitespace
    tokenizer (``split(text, ' ')`` —
    single-space literal, so multiple/trailing spaces yield empty
    tokens identically in Spark and the DuckDB ``string_split``
    oracle). Degenerate inputs: NULL text or fewer than ``n`` tokens
    → empty array (the oracle's LEFT-JOIN/COALESCE shape). Pure
    codegen: ``arrays_zip`` over ``n`` shifted k-length slices +
    ``concat_ws`` — O(T·n) per doc. (The previous
    ``transform(sequence(1, k), i -> array_join(slice(toks, i, n)))``
    form is O(T²): ``slice`` with a non-literal start re-copies per
    element; measured
    ~16× slower on the sf1 gram explode. Gram values are identical:
    element i of the zip is (toks[i..i+n-1]) with every slice exactly
    k long — no NULL padding — and ``concat_ws(' ', …)`` over
    non-NULL tokens equals ``array_join(…, ' ')``.)
    """
    toks = F.split(text_col, " ")
    k = F.size(toks) - F.lit(n - 1)
    if n == 1:
        # 1-gram of a token is the token itself
        base = toks
    else:
        z = F.arrays_zip(
            *[F.slice(toks, 1 + i, k).alias(f"t{i}") for i in range(n)]
        )
        base = F.transform(
            z, lambda s: F.concat_ws(" ", *[s[f"t{i}"] for i in range(n)])
        )
    # NULL text: size(NULL) is NULL (ANSI) → the when-guard falls to
    # the empty-array branch; k <= 0 likewise (slice with a
    # non-positive length would raise, but the untaken branch is
    # never evaluated)
    return F.when(k >= 1, base).otherwise(
        F.expr("CAST(array() AS ARRAY<STRING>)")
    )


def hot_ngrams(docs: DataFrame, n: int = 3, min_df: int = 5,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """→ (gram, df): word n-grams occurring in ≥ ``min_df`` distinct
    documents — the corpus boilerplate dictionary. ``array_distinct``
    before the explode makes ``count(*)`` a distinct-doc count, so
    the single groupBy keeps map-side partial aggregation (a
    count(DISTINCT doc_id) would expand instead). One shuffle on
    gram; the df filter prunes the long tail before anything joins
    against this.
    """
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(ngram_array(F.col(text_col), n))).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
    )


def boilerplate_stats(docs: DataFrame, n: int = 3, min_df: int = 5,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """→ (doc_id, n_grams, n_hot, boilerplate_ratio): per-document
    share of n-gram *occurrences* that hit the corpus boilerplate
    dictionary (``hot_ngrams``). The standard CCNet-style signal for
    dropping template-heavy pages. Docs with zero grams (shorter than
    n tokens, NULL text) keep n_hot = 0 and a NULL ratio (0/0 is
    undefined — NULLIF shape mirrored in the oracle).

    Scale: the hot set is df-thresholded (|hot| ≤ corpus_grams /
    min_df); the grams→hot equi-join is left to AQE, which broadcasts
    it when the runtime aggregate is small and shuffles otherwise —
    both sides are already hash-partitioned on gram from their
    producing aggregations.
    """
    gs = docs.select(
        F.col(id_col).alias("doc_id"),
        ngram_array(F.col(text_col), n).alias("gs"),
    )
    base = gs.select("doc_id", F.size("gs").alias("n_grams"))
    exploded = gs.select("doc_id", F.explode("gs").alias("gram"))
    hot = hot_ngrams(docs, n=n, min_df=min_df,
                     text_col=text_col, id_col=id_col).select("gram")
    per = (
        exploded.join(hot, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hot"))
    )
    n_hot = F.coalesce(F.col("n_hot"), F.lit(0).cast("long"))
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        n_hot.cast("long").alias("n_hot"),
        F.when(F.col("n_grams") > 0,
               n_hot.cast("double") / F.col("n_grams"))
        .alias("boilerplate_ratio"),
    )


def contamination(docs: DataFrame, n: int = 4, bench_mod: int = 53,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """→ (doc_id, n_overlap): training documents sharing ≥1 distinct
    word n-gram with the benchmark/eval split — the decontamination
    check every LLM-training pipeline runs before a corpus ships.
    The eval split here is the deterministic stand-in
    ``doc_id % bench_mod == 0`` (BASELINE.json: no external data);
    swapping in a real eval-set DataFrame changes one filter.

    Scale: the benchmark gram set is broadcast — eval sets are small
    by nature (that asymmetry is the whole point of the check), so
    the corpus side never shuffles.
    """
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(ngram_array(F.col(text_col), n))).alias("gram"),
    )
    is_bench = F.col("doc_id") % bench_mod == 0
    bench = grams.where(is_bench).select("gram").distinct()
    return (
        grams.where(~is_bench)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def stratified_sample(docs: DataFrame,
                      rates: dict[str, float] | None = None,
                      default_rate: float = DEFAULT_RATE,
                      strat_col: str = "lang",
                      id_col: str = "doc_id",
                      seed: int = 7) -> DataFrame:
    """→ the sampled rows' (doc_id, <strat_col>): deterministic
    per-stratum hash-threshold sample for training-mixture building —
    keep a row iff ``pmod(xxhash64(doc_id, seed), M) < rate(lang)*M``.

    Map-side only: no shuffle, no window, no per-stratum reducer —
    the only sampling shape that is simultaneously deterministic,
    resumable (same ids survive any re-run or backfill), and flat at
    100 TB. Unlisted / NULL strata fall to ``default_rate``. Oracle:
    the pure-Python XXH64 mirror (functions/xxh64.py) recomputes the
    hashes as a VALUES CTE; the threshold CASE runs in SQL.
    """
    rates = DEFAULT_LANG_RATES if rates is None else rates
    h = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(SAMPLE_MOD))
    thr = F.lit(int(default_rate * SAMPLE_MOD))
    for lang in sorted(rates):
        thr = F.when(F.col(strat_col) == lang,
                     F.lit(int(rates[lang] * SAMPLE_MOD))).otherwise(thr)
    return docs.where(h < thr).select(
        F.col(id_col).alias("doc_id"), F.col(strat_col)
    )


def max_multiplicity(arr):
    """Max multiplicity of any element of a string array — the length
    of the longest run of equal adjacent elements after ``array_sort``,
    folded with an ``aggregate`` over a (prev, run, best) struct
    accumulator. Pure whole-stage codegen per row: no explode, no
    shuffle, no UDF. Empty array → 0; NULL array → NULL.
    """
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
            F.lit(1)
        )
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(F.array_sort(arr), zero, step, lambda acc: acc["best"])


def repetition_stats(docs: DataFrame, n: int = 2, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """→ (doc_id, n_words, top_word_share, n_grams, dup_gram_ratio,
    top_gram_share): the Gopher-family within-document repetition
    signals (Rae et al. 2021 §A1.1) — templated / spammy pages repeat
    themselves, and these three ratios are the standard filters:

    - ``top_word_share``:  count of the most frequent word / n_words
    - ``dup_gram_ratio``:  fraction of word-``n``-gram occurrences
      that are repeats of an earlier occurrence, i.e.
      (n_grams − n_distinct_grams) / n_grams
    - ``top_gram_share``:  count of the most frequent n-gram / n_grams

    Every signal is computed *inside the row* with higher-order
    functions (``array_sort`` + ``aggregate`` run-length fold,
    ``array_distinct``) — zero shuffle, zero explode: at 100 TB this
    is a map-only pass that AQE never has to think about, unlike the
    explode→groupBy shape which would shuffle ~10× the corpus in gram
    rows. Degenerate inputs: NULL text → all counts 0; ratios are
    NULL whenever their denominator is 0 (undefined, NULLIF shape in
    the oracle).

    Tokenizer: ``split(text, ' ')`` (single-space literal), shared
    with ``ngram_array`` and the DuckDB ``string_split`` oracle.
    """
    toks = F.split(F.col(text_col), " ")
    grams = ngram_array(F.col(text_col), n)
    t = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.size(toks), F.lit(0)).alias("n_words"),
        F.coalesce(max_multiplicity(toks), F.lit(0)).alias("max_w"),
        F.size(grams).alias("n_grams"),  # never NULL: [] for bad text
        F.size(F.array_distinct(grams)).alias("n_dist"),
        max_multiplicity(grams).alias("max_g"),
    )
    nw = F.col("n_words")
    ng = F.col("n_grams")
    return t.select(
        "doc_id",
        nw.cast("long").alias("n_words"),
        F.when(nw > 0, F.col("max_w").cast("double") / nw)
        .alias("top_word_share"),
        ng.cast("long").alias("n_grams"),
        F.when(ng > 0, (ng - F.col("n_dist")).cast("double") / ng)
        .alias("dup_gram_ratio"),
        F.when(ng > 0, F.col("max_g").cast("double") / ng)
        .alias("top_gram_share"),
    )


# PII patterns in the Java-regex ∩ RE2 common subset (\b, \d, bounded
# repeats — no lookaround/backrefs, so Spark's java.util.regex and the
# DuckDB oracle's RE2 match identically on ASCII text). Replacement
# tokens contain no digits/@, so chained replacement can't create new
# matches for a later pattern.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def pii_scrub(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """→ (doc_id, n_email, n_phone, n_ipv4, scrubbed): redact
    emails / NANP-style phone numbers / IPv4 literals and count the
    redactions — the PII-masking pass every web-corpus pipeline runs
    before training (and the redaction *counts* feed the quality
    gate: PII-dense pages are usually scraped forms).

    Map-only whole-stage codegen: counts via
    ``size(regexp_extract_all(...))`` over the ORIGINAL text (so the
    three counts are order-independent), the scrubbed text via
    chained ``regexp_replace`` (Spark replaces all occurrences;
    mirrored with the 'g' flag in the oracle). NULL text → counts 0,
    scrubbed NULL.
    """
    counts = [
        F.coalesce(
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))),
            F.lit(0),
        ).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    scrubbed = F.col(text_col)
    for _, pat, rep in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, rep)
    return docs.select(
        F.col(id_col).alias("doc_id"), *counts, scrubbed.alias("scrubbed")
    )
