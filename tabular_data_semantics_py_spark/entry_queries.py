"""Query registry backing ``__spark_entry__.py``.

The 14 queries are ``kg_*`` KG-construction operators (SURVEY.md §2);
each one runs or reads a stage of the table→KG job (parse, closure,
redirects, candidates, types, CEA/CTA/CPA, emission, fragment) on the
deterministic fixture corpus (BASELINE.json: no
external data; the corpus is synthesized in-process, seed=42). Oracle
SQL embeds the fixture as VALUES CTEs and either re-implements the
operator in ANSI SQL (closure, emission, voting, most-specific…) or
pins the plain-Python oracle's goldens (CEA/CTA/CPA decisions). The
``sf_dir`` argument of the driver contract is accepted and ignored.

Numeric discipline (driver hashes values exactly): count-like outputs
cast to bigint (DuckDB count/len are BIGINT).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import constants as C
from .fixtures.generator import make_corpus
from .fixtures.oracle import OracleExecutor

# ---------------------------------------------------------------------------
# fixture state (lazy, deterministic)
# ---------------------------------------------------------------------------
_STATE: dict = {}


def _fixture():
    if "corpus" not in _STATE:
        corpus = make_corpus()
        ex = OracleExecutor(corpus)
        gold = ex.run()
        _STATE.update(corpus=corpus, ex=ex, gold=gold)
    return _STATE["corpus"], _STATE["ex"], _STATE["gold"]


def _app_id(spark: SparkSession) -> str:
    # id(spark) can be recycled after a stopped session is GC'd, and
    # keying on it grows _STATE unboundedly; applicationId is unique
    # per SparkContext lifetime
    return spark.sparkContext.applicationId


def _pipeline(spark: SparkSession):
    app = _app_id(spark)
    key = ("pipe", app)
    if key not in _STATE:
        from .plans.pipeline import run_pipeline
        from .sources.repo_source import corpus_to_dataframes

        # evict state owned by previous (stopped) sessions
        for k in [k for k in _STATE if isinstance(k, tuple) and k[1] != app]:
            del _STATE[k]
        corpus, _, _ = _fixture()
        dfs = corpus_to_dataframes(spark, corpus)
        _STATE[("dfs", app)] = dfs
        _STATE[key] = run_pipeline(spark, dfs)
    return _STATE[key]


def _dfs(spark: SparkSession):
    _pipeline(spark)
    return _STATE[("dfs", _app_id(spark))]


# ---------------------------------------------------------------------------
# SQL helpers
# ---------------------------------------------------------------------------

def _s(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def _values(rows, cols: str) -> str:
    rows = list(rows)
    if not rows:
        # '(VALUES ) AS t(...)' is invalid SQL — emit an empty relation
        # with the right column list instead
        ncols = len(cols.split(","))
        nulls = ", ".join(["NULL"] * ncols)
        return f"(SELECT {nulls} WHERE FALSE) AS t({cols})"
    body = ",\n".join("(" + ", ".join(_s(v) for v in r) + ")" for r in rows)
    return f"(VALUES\n{body}\n) AS t({cols})"


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, Callable[[], str]] = {}


def q(name: str, oracle: Callable[[], str]):
    def deco(fn):
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco


# ===========================================================================
# KG fixture queries (SURVEY.md §2 operators)
# ===========================================================================

def _o_cells():
    _, _, gold = _fixture()
    return (
        'SELECT table_id, r AS "row", c AS col, cell FROM '
        + _values(gold.cells, "table_id, r, c, cell")
    )


@q("kg_cells_parse", _o_cells)
def kg_cells_parse(spark, sf_dir):
    """S1: CSV artifact scan + cell explode (tabular2rdf.py:177-239)."""
    cells = _pipeline(spark).stages["cells"]
    return cells.where(F.col("row") >= 0).select("table_id", "row", "col", "cell")


def _o_sha():
    corpus, _, _ = _fixture()
    rows = [(r, p, c) for (r, p, _cm, lang, c) in corpus.repos if lang == "csv"]
    return (
        "SELECT repo, path, sha256(content) AS content_sha FROM "
        + _values(rows, "repo, path, content")
    )


@q("kg_sha_integrity", _o_sha)
def kg_sha_integrity(spark, sf_dir):
    """Per-row content sha256 invariant (BASELINE.json input_hint) —
    computed JVM-side with sha2 at the scan."""
    dfs = _dfs(spark)
    return (
        dfs["source_repos"].where(F.col("lang") == "csv")
        .select("repo", "path", F.sha2(F.col("content"), 256).alias("content_sha"))
    )


def _o_closure():
    corpus, _, _ = _fixture()
    edges = [(c, p, 1) for c, p in corpus.edges]
    eq = [(a, b, 0) for a, b in corpus.equivalent] + [
        (b, a, 0) for a, b in corpus.equivalent
    ]
    return f"""
WITH RECURSIVE step(src, dst, depth) AS (
  SELECT * FROM {_values(edges + eq, "src, dst, depth")}
),
walk(src, dst, depth, steps) AS (
  SELECT src, dst, depth, 1 FROM step
  UNION ALL
  SELECT w.src, s.dst, w.depth + s.depth, w.steps + 1
  FROM walk w JOIN step s ON w.dst = s.src
  WHERE w.steps < 16 AND w.src <> s.dst
)
SELECT src AS class_uri, dst AS ancestor_uri,
       CAST(MIN(depth) AS INTEGER) AS depth
FROM walk WHERE src <> dst GROUP BY src, dst
"""


@q("kg_closure", _o_closure)
def kg_closure(spark, sf_dir):
    """J6/J7: transitive subsumption closure with min-depth
    (kg/endpoints.py:481-525) via self-join doubling."""
    return _pipeline(spark).stages["closure"]


def _o_redirects():
    corpus, _, _ = _fixture()
    rows = [(e.uri, e.redirect_to) for e in corpus.entities]
    return f"""
WITH idx(uri, rto) AS (SELECT * FROM {_values(rows, "uri, rto")})
SELECT a.uri,
       COALESCE(c.uri, b.uri, a.uri) AS final_uri
FROM idx a
LEFT JOIN idx b ON a.rto = b.uri
LEFT JOIN idx c ON b.rto = c.uri
"""


@q("kg_redirects", _o_redirects)
def kg_redirects(spark, sf_dir):
    """J3: bounded 2-hop redirect resolution
    (challenge_utils.py:441-453)."""
    from .operators.candidates import resolve_redirects

    idx = _dfs(spark)["entity_index"]
    return resolve_redirects(
        idx.select("uri", F.col("uri").alias("final_uri")), idx, "final_uri"
    )


def _o_candidates():
    _, ex, gold = _fixture()
    seen = set()
    rows = []
    for key in sorted(gold.candidates):
        norm = gold.mention_norm[key]
        if norm in seen:
            continue
        seen.add(norm)
        for rank, (uri, _score) in enumerate(gold.candidates[key], 1):
            rows.append((norm, uri, rank))
    return (
        "SELECT mention_norm, uri, cand_rank FROM "
        + _values(rows, "mention_norm, uri, cand_rank")
    )


@q("kg_candidates", _o_candidates)
def kg_candidates(spark, sf_dir):
    """J1+T1: mention → ranked candidate entities (exact + token-
    blocked fuzzy + redirects + windowed top-k)."""
    return (
        _pipeline(spark).stages["candidates"]
        .select("mention_norm", "uri", "cand_rank")
    )


def _o_entity_types():
    corpus, ex, _ = _fixture()
    rows = []
    for e in corpus.entities:
        ts = sorted(ex.types_for_entity(e.uri))
        rows.append((e.uri, " ".join(ts)))
    return "SELECT uri, types_str FROM " + _values(rows, "uri, types_str")


@q("kg_entity_types", _o_entity_types)
def kg_entity_types(spark, sf_dir):
    """D1-D6: the full type-enrichment cascade, ancestor-expanded."""
    return (
        _pipeline(spark).stages["entity_types"]
        .select("uri", F.concat_ws(" ", F.col("types")).alias("types_str"))
    )


def _o_most_specific():
    corpus, ex, _ = _fixture()
    et_rows = []
    for e in corpus.entities:
        for t in sorted(ex.types_for_entity(e.uri)):
            et_rows.append((e.uri, t))
    clo_rows = [
        (c, a, d)
        for c, ancs in ex.closure.items()
        for a, d in sorted(ancs.items())
    ]
    return f"""
WITH et(uri, t) AS (SELECT * FROM {_values(et_rows, "uri, t")}),
clo(c, a, d) AS (SELECT * FROM {_values(clo_rows, "c, a, d")}),
keep AS (
  SELECT e.uri, e.t FROM et e
  WHERE e.t <> {_s(C.AGENT_CLASS)}
    AND NOT EXISTS (
      SELECT 1 FROM et e2
      JOIN clo ON clo.c = e2.t AND clo.a = e.t AND clo.d >= 1
      WHERE e2.uri = e.uri AND e2.t <> e.t
        AND e2.t <> {_s(C.AGENT_CLASS)}
    )
)
SELECT uri, string_agg(t, ' ' ORDER BY t) AS ms_types FROM keep GROUP BY uri
"""


@q("kg_most_specific", _o_most_specific)
def kg_most_specific(spark, sf_dir):
    """A2: most-specific-class reduction (challenge_utils.py:196-245)."""
    from .operators.closure import closure_to_map
    from .operators.types_cascade import make_most_specific_udf

    pipe = _pipeline(spark)
    ms_udf = make_most_specific_udf(
        closure_to_map(pipe.stages["closure"]), C.AGENT_CLASS
    )
    return (
        pipe.stages["entity_types"]
        .select("uri", ms_udf(F.col("types")).alias("ms"))
        .where(F.size("ms") > 0)
        .select("uri", F.concat_ws(" ", F.col("ms")).alias("ms_types"))
    )


def _o_cea():
    _, _, gold = _fixture()
    return (
        'SELECT table_id, c AS col, r AS "row", uri FROM '
        + _values(gold.cea, "table_id, c, r, uri")
    )


@q("kg_cea", _o_cea)
def kg_cea(spark, sf_dir):
    """EP2/D-cascade: final cell-entity annotations."""
    return _pipeline(spark).stages["cea"].select("table_id", "col", "row", "uri")


def _o_cta():
    _, _, gold = _fixture()
    return (
        "SELECT table_id, c AS col, cls, ancestors FROM "
        + _values(gold.cta, "table_id, c, cls, ancestors")
    )


@q("kg_cta", _o_cta)
def kg_cta(spark, sf_dir):
    """A2-A5: column-type annotation + ancestor expansion."""
    return _pipeline(spark).stages["cta"].select("table_id", "col", "cls", "ancestors")


def _o_cta_votes():
    _, ex, gold = _fixture()
    # independent SQL vote: explode gold CEA through oracle
    # most-specific type sets, count per (table, col, type)
    ms_rows = []
    seen = set()
    for (_tid, _c, _r), uri in [
        ((t, c, r), u) for (t, c, r, u) in gold.cea
    ]:
        if uri in seen:
            continue
        seen.add(uri)
        for t in sorted(ex.most_specific(ex.types_for_entity(uri))):
            ms_rows.append((uri, t))
    cea_rows = [(t, c, r, u) for (t, c, r, u) in gold.cea]
    return f"""
WITH cea(table_id, c, r, uri) AS (SELECT * FROM {_values(cea_rows, "table_id, c, r, uri")}),
ms(uri, t) AS (SELECT * FROM {_values(ms_rows, "uri, t")})
SELECT cea.table_id, cea.c AS col, ms.t AS cls, COUNT(*) AS votes
FROM cea JOIN ms ON cea.uri = ms.uri
GROUP BY 1, 2, 3
"""


@q("kg_cta_votes", _o_cta_votes)
def kg_cta_votes(spark, sf_dir):
    """A3: raw type-vote counts per column (challenge_utils.py:121-126)
    — verified against an independent SQL GROUP BY."""
    from .operators.closure import closure_to_map
    from .operators.types_cascade import make_most_specific_udf

    pipe = _pipeline(spark)
    ms_udf = make_most_specific_udf(
        closure_to_map(pipe.stages["closure"]), C.AGENT_CLASS
    )
    ms = pipe.stages["entity_types"].select(
        "uri", F.explode(ms_udf(F.col("types"))).alias("cls")
    )
    return (
        pipe.stages["cea"].join(ms, "uri")
        .groupBy("table_id", "col", "cls")
        .agg(F.count(F.lit(1)).alias("votes"))
    )


def _o_cpa():
    _, _, gold = _fixture()
    return (
        "SELECT table_id, cs AS col_subj, co AS col_obj, pred FROM "
        + _values(gold.cpa, "table_id, cs, co, pred")
    )


@q("kg_cpa", _o_cpa)
def kg_cpa(spark, sf_dir):
    """CPA: predicate voting between entity columns."""
    return _pipeline(spark).stages["cpa"]


def _o_triples():
    corpus, _, gold = _fixture()
    hdr_rows = []
    for t in corpus.tables:
        for i, h in enumerate(t.header):
            hdr_rows.append((t.table_id, i, h))
    cea_rows = [(t, c, r, u) for (t, c, r, u) in gold.cea if c == 0]
    cta_rows = [(t, cls) for (t, c, cls, _a) in gold.cta if c == 0]
    B = C.TABLE_BASE
    return f"""
WITH cells(table_id, r, c, cell) AS (SELECT * FROM {_values(gold.cells, "table_id, r, c, cell")}),
hdr(table_id, c, header) AS (SELECT * FROM {_values(hdr_rows, "table_id, c, header")}),
cea(table_id, c, r, uri) AS (SELECT * FROM {_values(cea_rows, "table_id, c, r, uri")}),
cta(table_id, cls) AS (SELECT * FROM {_values(cta_rows, "table_id, cls")}),
rows_present AS (
  SELECT table_id, r, MAX(CASE WHEN c = 0 THEN cell END) AS main_cell
  FROM cells GROUP BY table_id, r HAVING MAX(length(cell)) > 0
),
base AS (
  SELECT {_s(B)} || table_id || '-col-' || c AS subj,
         {_s(C.RDF_TYPE)} AS pred, {_s(C.OWL_DATATYPE_PROPERTY)} AS obj,
         FALSE AS obj_is_literal
  FROM hdr
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-' || c, {_s(C.RDFS_LABEL)}, header, TRUE
  FROM hdr
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-0-row-' || r, {_s(C.RDF_TYPE)},
         {_s(C.OWL_NAMED_INDIVIDUAL)}, FALSE FROM rows_present
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-0-row-' || r, {_s(C.RDFS_LABEL)},
         main_cell, TRUE FROM rows_present WHERE length(main_cell) > 0
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-0-row-' || r, {_s(C.ANN_TABLE)},
         table_id, TRUE FROM rows_present
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-0-row-' || r, {_s(C.ANN_COLUMN)},
         '0', TRUE FROM rows_present
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-0-row-' || r, {_s(C.ANN_ROW)},
         CAST(r AS VARCHAR), TRUE FROM rows_present
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-0-row-' || r,
         {_s(B)} || table_id || '-col-' || c, cell, TRUE
  FROM cells WHERE c > 0 AND length(cell) > 0
  UNION ALL
  SELECT {_s(B)} || table_id || '-col-0-row-' || r, {_s(C.OWL_SAMEAS)},
         uri, FALSE FROM cea
  UNION ALL
  SELECT {_s(B)} || rp.table_id || '-col-0-row-' || rp.r, {_s(C.RDF_TYPE)},
         cta.cls, FALSE
  FROM rows_present rp JOIN cta ON rp.table_id = cta.table_id
)
SELECT DISTINCT subj, pred, obj, obj_is_literal FROM base
"""


@q("kg_triples", _o_triples)
def kg_triples(spark, sf_dir):
    """E1-E4: triple emission (tabular2rdf.py:120-172) — oracle is a
    full SQL re-implementation of the minting scheme."""
    return _pipeline(spark).stages["triples"]


def _o_fragment():
    corpus, _, gold = _fixture()
    cea_rows = sorted({(u,) for (_t, _c, _r, u) in gold.cea})
    main_norms = sorted(
        {(n,) for (t, c, r), n in gold.mention_norm.items() if c == 0 and n}
    )
    cand_rows = []
    seen = set()
    for key in sorted(gold.candidates):
        norm = gold.mention_norm[key]
        if norm in seen:
            continue
        seen.add(norm)
        for rank, (uri, _score) in enumerate(gold.candidates[key], 1):
            cand_rows.append((norm, uri, rank))
    itype_rows = sorted(
        {
            (e.uri, t)
            for e in corpus.entities
            for t in e.types
            if t.startswith(C.ONTOLOGY_NS)
        }
    )
    cls_rows = sorted({(cls,) for (_t, _c, cls, _a) in gold.cta})
    avoid = ", ".join(_s(p) for p in sorted(C.AVOID_PREDICATES))
    TYP = _s(C.RDF_TYPE)
    return f"""
WITH tr(subj, pred, obj, lit) AS (SELECT * FROM {_values(corpus.triples, "subj, pred, obj, lit")}),
cea(uri) AS (SELECT * FROM {_values(cea_rows, "uri")}),
mains(m) AS (SELECT * FROM {_values(main_norms, "m")}),
cand(m, uri, rnk) AS (SELECT * FROM {_values(cand_rows, "m, uri, rnk")}),
itypes(uri, t) AS (SELECT * FROM {_values(itype_rows, "uri, t")}),
ctacls(cls) AS (SELECT * FROM {_values(cls_rows, "cls")}),
look AS (SELECT DISTINCT c.uri FROM mains JOIN cand c ON c.m = mains.m
         WHERE c.rnk <= 3),
named AS (SELECT uri AS subj, {TYP} AS pred,
                 {_s(C.OWL_NAMED_INDIVIDUAL)} AS obj, FALSE AS obj_is_literal
          FROM look),
ltypes AS (SELECT l.uri, {TYP}, it.t, FALSE
           FROM look l JOIN itypes it ON l.uri = it.uri),
mem0 AS (SELECT ctacls.cls, t.subj AS member,
                ROW_NUMBER() OVER (PARTITION BY ctacls.cls
                                   ORDER BY t.subj) AS rn
         FROM tr t JOIN ctacls ON t.obj = ctacls.cls
         WHERE t.pred = {TYP}),
members AS (SELECT cls, member FROM mem0 WHERE rn <= 5),
mtypes AS (SELECT member, {TYP}, cls, FALSE FROM members),
ents(uri) AS (SELECT uri FROM cea UNION SELECT uri FROM look
              UNION SELECT member FROM members),
kind AS (SELECT pred,
                (2 * SUM(CASE WHEN obj LIKE 'http%' THEN 1 ELSE 0 END)
                 > COUNT(*)) AS is_object
         FROM tr GROUP BY pred),
nb0 AS (SELECT t.subj, t.pred, t.obj,
               ROW_NUMBER() OVER (PARTITION BY t.subj
                                  ORDER BY t.pred, t.obj) AS rn
        FROM tr t JOIN ents e ON t.subj = e.uri
        WHERE t.pred NOT IN ({avoid})),
nb AS (SELECT n.subj, n.pred, n.obj, NOT k.is_object
       FROM nb0 n JOIN kind k ON n.pred = k.pred
       WHERE n.rn <= 5
         AND ((k.is_object AND n.obj LIKE {_s(C.RESOURCE_NS + "%")})
              OR NOT k.is_object)),
allt AS (SELECT * FROM named UNION ALL SELECT * FROM ltypes
         UNION ALL SELECT * FROM mtypes UNION ALL SELECT * FROM nb)
SELECT DISTINCT subj, pred, obj, obj_is_literal FROM allt
"""


@q("kg_fragment", _o_fragment)
def kg_fragment(spark, sf_dir):
    """E5: KG-fragment extraction, ALL THREE arms of
    oaei/dbpedia_fragment.py — CEA entities (172-211), per-cell lookup
    top-3 with type triples (234-302), class-instance samples
    (530-560) — plus the capped 1-hop neighborhood with
    literal-vs-object routing and the resource-namespace object filter
    (373-443, 504-528). See operators/fragment.py."""
    from .operators.fragment import fragment_full

    pipe = _pipeline(spark)
    dfs = _dfs(spark)
    return fragment_full(
        pipe.stages["cea"], pipe.stages["cells_m"],
        pipe.stages["candidates"], pipe.stages["cta"],
        dfs["entity_index"], dfs["kg_triples"],
    )


def _o_label_index():
    _, ex, _ = _fixture()
    rows = sorted(
        (uri, k) for uri, keys in ex.entity_keys.items() for k in keys
    )
    return "SELECT uri, key_norm FROM " + _values(rows, "uri, key_norm")


@q("kg_label_index", _o_label_index)
def kg_label_index(spark, sf_dir):
    """P12 + S3: the lexical label/alias index (normalized surface
    form → entity), the local replacement for the remote lookup
    services (ontology_projection.py:1420-1471 label indexing role)."""
    from .operators.candidates import build_index_keys

    return build_index_keys(_dfs(spark)["entity_index"]).select("uri", "key_norm")


def flagship(spark: SparkSession) -> DataFrame:
    """The end-to-end KG pipeline on the fixture corpus → emitted
    canonical triples (driver smoke check)."""
    return _pipeline(spark).stages["triples"]


def oracle_sql_strings() -> dict[str, str]:
    return {name: build() for name, build in ORACLES.items()}
