"""S2/S10: SemTab annotation CSV round-trips."""

from tabular_data_semantics_py_spark.sources.annotations import (
    read_cea_csv,
    read_cta_csv,
    write_cea_csv,
    write_cta_csv,
)


def test_cea_roundtrip(spark, pipeline, tmp_path):
    cea = pipeline.stages["cea"]
    p = str(tmp_path / "cea_csv")
    write_cea_csv(cea, p)
    back = read_cea_csv(spark, p)
    got = {
        (r.table_id, r.col, r.row, tuple(r.entities)) for r in back.collect()
    }
    want = {
        (r.table_id, r.col, r.row, (r.uri,)) for r in cea.collect()
    }
    assert got == want


def test_multi_uri_cea_roundtrip(spark, tmp_path):
    """A multi-URI SemTab CEA cell (space-joined, challenge_utils.py:
    336-346) and a cell with an empty ``""`` entities field (no
    annotation) survive read → write → read through the ``entities``
    array shape that read_cea_csv returns."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "f.csv").write_text(
        '"t1","0","1","http://x/e1"\n'
        '"t1","1","2","http://x/e2 http://x/e3"\n'
        '"t2","0","0",""\n'
    )
    first = read_cea_csv(spark, str(src))
    p = str(tmp_path / "cea_csv")
    write_cea_csv(first, p)
    back = read_cea_csv(spark, p)

    def rows(df):
        return {(r.table_id, r.col, r.row, tuple(r.entities)) for r in df.collect()}

    assert rows(first) == {
        ("t1", 0, 1, ("http://x/e1",)),
        ("t1", 1, 2, ("http://x/e2", "http://x/e3")),
        ("t2", 0, 0, ()),
    }
    assert rows(back) == rows(first)


def test_cta_roundtrip(spark, pipeline, tmp_path):
    cta = pipeline.stages["cta"]
    p = str(tmp_path / "cta_csv")
    write_cta_csv(cta, p)
    back = read_cta_csv(spark, p)
    got = {
        (r.table_id, r.col, r.cls, tuple(r.ancestors)) for r in back.collect()
    }
    want = {
        (r.table_id, r.col, r.cls,
         tuple(r.ancestors.split(" ")) if r.ancestors else ())
        for r in cta.collect()
    }
    assert got == want


def test_cea_short_row_guard(spark, tmp_path):
    """Length guard: rows with < 4 fields are skipped
    (challenge_utils.py:44-45)."""
    p = tmp_path / "bad"
    p.mkdir()
    (p / "f.csv").write_text(
        '"t1","0","1","http://x/e1"\n"t1","0"\n"t1","1","2","http://x/e2 http://x/e3"\n'
    )
    df = read_cea_csv(spark, str(p))
    rows = {(r.table_id, r.col, r.row, tuple(r.entities)) for r in df.collect()}
    assert rows == {
        ("t1", 0, 1, ("http://x/e1",)),
        ("t1", 1, 2, ("http://x/e2", "http://x/e3")),
    }
