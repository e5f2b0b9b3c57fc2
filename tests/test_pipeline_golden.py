"""Golden end-to-end: Spark pipeline vs the plain-Python oracle
(reference-semantics re-execution). BASELINE.md requires P/R ≥ 0.95 on
every annotation task; the two implementations are pinned to identical
decision rules, so in practice they must agree exactly."""

from conftest import pr


def test_cells_parse_exact(pipeline, gold):
    got = {
        (r.table_id, r.row, r.col, r.cell)
        for r in pipeline.stages["cells"].where("row >= 0").collect()
    }
    assert got == set(gold.cells)


def test_sha_integrity(pipeline, dfs):
    """Per-row content sha256 equality (BASELINE.json input_hint),
    joined on the source table's natural key (repo, path): path alone
    collides across repos."""
    import pyspark.sql.functions as F

    src = dfs["source_repos"].select(
        "repo", "path", F.sha2(F.col("content"), 256).alias("src_sha")
    )
    bad = (
        pipeline.stages["cells"].select("repo", "path", "content_sha")
        .distinct()
        .join(src, ["repo", "path"], "left")
        .where(
            F.col("src_sha").isNull()
            | (F.col("src_sha") != F.col("content_sha"))
        )
        .count()
    )
    assert bad == 0


def test_cea_golden(pipeline, gold):
    got = {
        (r.table_id, r.col, r.row, r.uri)
        for r in pipeline.stages["cea"].collect()
    }
    p, r = pr(got, set(gold.cea))
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_cta_golden(pipeline, gold):
    got = {
        (r.table_id, r.col, r.cls, r.ancestors)
        for r in pipeline.stages["cta"].collect()
    }
    p, r = pr(got, set(gold.cta))
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_cpa_golden(pipeline, gold):
    got = {
        (r.table_id, r.col_subj, r.col_obj, r.pred)
        for r in pipeline.stages["cpa"].collect()
    }
    p, r = pr(got, set(gold.cpa))
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_triples_golden(pipeline, gold):
    got = {
        (r.subj, r.pred, r.obj, r.obj_is_literal)
        for r in pipeline.stages["triples"].collect()
    }
    p, r = pr(got, set(gold.triples))
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_unresolvable_column_has_no_cta(pipeline):
    """NO-TYPES path (challenge_utils.py:164-166): table 7's main
    column mentions match nothing, so no CTA row may exist for it."""
    rows = (
        pipeline.stages["cta"]
        .where("table_id LIKE 'tab_0007%' AND col = 0")
        .count()
    )
    assert rows == 0


def test_hash_mark_table_id_sanitized(pipeline):
    """Filename-sanitization analogue (tabular2rdf.py:96-110): the
    artifact at data/tab_0005_rivers#v2.csv must surface as table_id
    'tab_0005_rivers'."""
    ids = {
        r.table_id
        for r in pipeline.stages["cells"].select("table_id").distinct().collect()
    }
    assert "tab_0005_rivers" in ids
    assert not any("#" in t for t in ids)
