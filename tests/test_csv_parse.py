"""The built-in CSV parse (``sources.csv_cells.parse_cells``) against
the reference parse, ``fixtures.oracle.parse_csv_content`` (the
``csv.reader`` dialect of test/challenge_utils.py:534), on random
contents and on the long fields and field-size limit where a regex
parse is most likely to go wrong."""

import csv
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from tabular_data_semantics_py_spark.fixtures.oracle import parse_csv_content
from tabular_data_semantics_py_spark.sources.csv_cells import (
    _parsed_records,
    parse_cells,
)
from tabular_data_semantics_py_spark.sources.repo_source import (
    discover_csv_artifacts,
)

ALPHABET = ["a", "b", ",", '"', "\\", "\n", "\r", " ", "\t", "é", "\x00"]
# long fields: every regex loop must recurse per escape, not per
# character, or these overflow the task thread's stack
LONG = [
    '"' + "ab\\" * 50_000 + '"\n',  # 150k-char quoted, an escape every 3rd
    "a" * 200_000 + "\n",  # 200k-char plain field (over the field limit)
    "\\," * 90_000 + "\n",  # 180k-char line of escaped commas
    # malformed after a 100k-char field: rejected in one pass (a record
    # search restarted at every later character took minutes)
    "h\n" + "a" * 100_000 + "\rb",
]
CELL_COLS = ["table_id", "repo", "path", "commit", "content_sha", "row",
             "col", "cell", "n_cols"]


def _sources(spark, dir_, contents, langs=None):
    """The contents as a parquet source table, read back the way the
    job reads its source (a file scan, not a local relation)."""
    n = len(contents)
    dir_.mkdir()
    pq.write_table(pa.table({
        "repo": ["r"] * n,
        "path": [f"{i}.csv" for i in range(n)],
        "commit": ["c"] * n,
        "lang": langs or ["csv"] * n,
        "content": contents,
    }), str(dir_ / "src.parquet"))
    return spark.read.parquet(str(dir_))


def _expected_cells(contents: list[str]) -> list[tuple]:
    out = []
    for i, content in enumerate(contents):
        header, rows = parse_csv_content(content)
        out += [(str(i), -1, c, v, len(header)) for c, v in enumerate(header)]
        out += [(str(i), r, c, v, len(header))
                for r, row in rows for c, v in enumerate(row)]
    return sorted(out)


def _raises(content: str) -> bool:
    try:
        parse_csv_content(content)
    except csv.Error:
        return True
    return False


def test_parse_matches_csv_reader(spark, tmp_path):
    rng = random.Random(20261019)
    contents = [
        "".join(rng.choice(ALPHABET) for _ in range(rng.randint(0, 30)))
        for _ in range(3000)
    ] + LONG
    rejected = {i for i, c in enumerate(contents) if _raises(c)}
    assert 1000 < len(rejected) < 2000  # both sides well covered
    assert [i in rejected for i in range(3000, 3004)] == [
        False, True, False, True]

    # one job: which contents the parse rejects
    src = discover_csv_artifacts(_sources(spark, tmp_path / "all", contents))
    got_rejected = {
        int(r.table_id) for r in
        _parsed_records(src).where(F.col("error").isNotNull()).collect()
    }
    assert got_rejected == rejected

    # one job: every cell of the contents csv.reader accepts
    valid = [c for i, c in enumerate(contents) if i not in rejected]
    cells = parse_cells(discover_csv_artifacts(
        _sources(spark, tmp_path / "valid", valid)))
    assert cells.columns == CELL_COLS
    got = sorted(
        (r.table_id, r.row, r.col, r.cell, r.n_cols)
        for r in cells.select("table_id", "row", "col", "cell", "n_cols")
        .collect()
    )
    assert got == _expected_cells(valid)


def test_field_size_limit(spark, tmp_path):
    """csv.reader counts a field's characters after unescaping and
    raises past ``csv.field_size_limit()``; so does the parse."""
    limit = csv.field_size_limit()
    at_limit = "h\n" + "a" * limit
    # 3 * 65,537 = 196,611 raw characters, 131,074 parsed
    over = "h\n" + "a\\," * (limit // 2 + 1)
    assert not _raises(at_limit) and _raises(over)

    cells = parse_cells(discover_csv_artifacts(
        _sources(spark, tmp_path / "at", [at_limit])))
    assert sorted(len(r.cell) for r in cells.collect()) == [1, limit]
    with pytest.raises(SparkRuntimeException,
                       match=f"field larger than field limit \\({limit}\\)"):
        parse_cells(discover_csv_artifacts(
            _sources(spark, tmp_path / "over", [over]))).collect()


def test_malformed_csv_fails_the_job(spark, tmp_path):
    src = _sources(spark, tmp_path / "bad", ["h\na\rb\n"])
    with pytest.raises(SparkRuntimeException, match="malformed CSV: r: 0.csv"):
        parse_cells(discover_csv_artifacts(src)).collect()


def test_non_csv_artifacts_are_never_parsed(spark, tmp_path):
    """Only the rows ``discover_csv_artifacts`` keeps are parsed: no
    filter is pushed below it with the parse (and its raise) inlined."""
    src = _sources(spark, tmp_path / "mixed", ["h\na\rb\n", "h\nx\n"],
                   langs=["py", "csv"])
    cells = parse_cells(discover_csv_artifacts(src)).collect()
    assert sorted((r.row, r.cell) for r in cells) == [(-1, "h"), (0, "x")]
