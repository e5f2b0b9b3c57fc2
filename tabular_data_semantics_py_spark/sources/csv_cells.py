"""CSV artifact → exploded cells DataFrame (SURVEY.md §2.1 S1).

The reference reads CSV files row-by-row on one thread
(oaei/tabular2rdf.py:177-239). Here the parse is projections of the
scan made of Spark built-ins: Java regexes split each artifact into
records and fields, and ``posexplode`` emits one row per cell. One
artifact never spans partitions, so the parse adds no shuffle. Parse
semantics are pinned to the reference, ``csv.reader`` in its default
(non-strict) mode, which ``fixtures.oracle.parse_csv_content`` runs
and ``tests/test_csv_parse.py`` compares against:

- delimiter=',', quotechar='"', escapechar='\\'
  (test/challenge_utils.py:534)
- first row is the header (oaei/tabular2rdf.py:202-210)
- short rows are skipped (oaei/tabular2rdf.py:213-215); long rows are
  truncated to the header width; a blank line is a (short) row
- ``row`` is the 0-based physical data-row index (header excluded,
  skipped rows still counted) so lineage survives the skip
- an artifact that ``csv.reader`` rejects (a new-line character in an
  unquoted field, a parsed field over ``csv.field_size_limit()``)
  fails the job with ``raise_error``

Every regex loop is unrolled and possessive, so the engine recurses
once per escape, not once per character, and a field of a few hundred
thousand characters does not overflow the task thread's stack.
``content_sha`` (``sha2`` of the content) gives the per-row integrity
invariant (BASELINE.json input_hint).
"""

from __future__ import annotations

import csv

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_META = ["table_id", "repo", "path", "commit", "content_sha"]
# an escape; a lone backslash at the very end of the content escapes
# the end of the line, which csv.reader reads as a newline
_E = r"\\[\s\S]|\\\z"
# body of a quoted field: anything but a quote or backslash, plus
# escapes and doubled quotes
_NQ = r'[^"\\]*+(?:(?:' + _E + r'|"")[^"\\]*+)*+'
# rest of an unquoted field: anything but a delimiter, backslash or
# line end, plus escapes
_RUN = r"[^,\\\r\n]*+(?:(?:" + _E + r")[^,\\\r\n]*+)*+"
# one field: quoted (the closing quote may be missing at the end of
# the content, and the character after it is literal, then the field
# goes on unquoted), or unquoted, or empty
_F = (
    r'"' + _NQ + r'"?(?:[^",\r\n]' + _RUN + r")?"
    r'|(?:(?:[^",\\\r\n]|' + _E + r")" + _RUN + r")?"
)
# one record: fields up to a line end or the end of the content, never
# an empty match (a blank line is one empty field and its line end).
# \G starts each record where the one before ended: after a record
# that does not match, every later start fails at once instead of
# scanning the rest of the content again (quadratic on a long field)
_REC = (
    r"\G(?=[\s\S])(?:(?:" + _F + r"),)*+(?:" + _F + r")"
    r"(?:\r*\n|\r+\z|\z)"
)
# the fields of a record, each matched after the delimiter before it
# (a ',' is prepended to the record, so no match is ever empty)
_FIELD = r",(" + _F + r")"
# a quoted field's body and what follows its closing quote
_QUOTED = r'\A"(' + _NQ + r')"?([\s\S]*)'


def _escaped_eol(s: Column) -> Column:
    """``s`` with a newline after an odd run of trailing backslashes,
    the escaped end of the content."""
    run = F.length(s) - F.length(F.rtrim(s, F.lit("\\")))
    return F.when(run % 2 == 1, F.concat(s, F.lit("\n"))).otherwise(s)


def _unescape(s: Column) -> Column:
    return F.regexp_replace(_escaped_eol(s), r"\\([\s\S])", "$1")


def _field_value(f: Column) -> Column:
    """One raw field as matched by ``_F`` → its parsed value."""
    body = F.regexp_extract(f, _QUOTED, 1)
    tail = F.regexp_extract(f, _QUOTED, 2)
    quoted = F.concat(
        F.regexp_replace(_escaped_eol(body), r'\\([\s\S])|"(")', "$1$2"),
        F.substring(tail, 1, 1),  # the character after the quote
        _unescape(F.substr(tail, F.lit(2))),
    )
    return F.when(F.startswith(f, F.lit('"')), quoted).otherwise(_unescape(f))


def _record_fields(rec: Column) -> Column:
    """One record as matched by ``_REC`` → its parsed fields; ``[]``
    for a blank line."""
    values = F.transform(
        F.regexp_extract_all(
            F.concat(F.lit(","), rec), F.lit(_FIELD), F.lit(1)),
        _field_value,
    )
    blank = F.substring(rec, 1, 1).isin("\r", "\n")
    return F.when(blank, F.array().cast("array<string>")).otherwise(values)


def _parsed_records(artifacts: DataFrame) -> DataFrame:
    """artifacts → (table_id, repo, path, commit, content_sha, rows,
    error): ``rows`` is every record's parsed fields, header first,
    and ``error`` is NULL unless ``csv.reader`` raises on the content.
    """
    limit = csv.field_size_limit()
    split = artifacts.select(
        *_META[:4],
        F.sha2(F.col("content"), 256).alias("content_sha"),
        "content",
        F.regexp_extract_all("content", F.lit(_REC), F.lit(0)).alias("recs"),
    )
    parsed = split.select(
        *_META,
        F.transform("recs", _record_fields).alias("rows"),
        # the records tile the content exactly unless csv.reader
        # raises ("new-line character seen in unquoted field")
        F.when(F.array_join("recs", "") != F.col("content"),
               F.lit("malformed CSV")).alias("error"),
    )
    # csv.reader counts a field's characters after unescaping
    too_long = F.exists(F.flatten("rows"), lambda v: F.length(v) > limit)
    return parsed.select(
        *_META,
        "rows",
        F.coalesce(
            F.col("error"),
            F.when(too_long,
                   F.lit(f"CSV field larger than field limit ({limit})")),
        ).alias("error"),
    )


def parse_cells(artifacts: DataFrame) -> DataFrame:
    """artifacts (from discover_csv_artifacts) → cells DataFrame
    (table_id, repo, path, commit, content_sha, row, col, cell,
    n_cols).

    Returns header rows as row == -1; ``data_cells`` keeps the
    ``row >= 0`` data cells. The records of ``_parsed_records`` are
    exploded header first; rows at least as wide as the header keep
    their first ``n_cols`` fields.
    """
    checked = F.when(
        F.col("error").isNotNull(),
        F.raise_error(F.concat_ws(": ", "error", "repo", "path")),
    ).otherwise(F.col("rows"))
    return (
        _parsed_records(artifacts).select(
            *_META,
            F.size(F.get("rows", 0)).alias("n_cols"),
            # posexplode an expression, not a column: Catalyst infers a
            # ``size(rows) > 0`` filter from a generator over a column
            # and pushes it below the projections with the whole parse
            # inlined, where it runs again, raise_error included, on
            # rows that filters of the caller drop
            F.posexplode(checked).alias("pos", "fields"),
        )
        .where(F.size("fields") >= F.col("n_cols"))
        .select(
            *_META,
            (F.col("pos") - 1).alias("row"),
            F.posexplode(F.slice("fields", 1, F.col("n_cols")))
            .alias("col", "cell"),
            "n_cols",
        )
    )


def data_cells(cells: DataFrame) -> DataFrame:
    return cells.where(F.col("row") >= 0)
