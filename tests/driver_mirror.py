"""Local mirror of the driver's correctness gate: run each
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB,
compare row count + column names + order-insensitive values. Every
oracle embeds the fixture corpus, so DuckDB needs no tables. Usable as
a script (fast iteration) and from pytest."""

from __future__ import annotations

import math
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# the contract's sf_dir argument; every query ignores it
SF_DIR = "sf0.01"


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bool):
        return bool(v)
    return v


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in idx) for r in rows]
    out.sort(key=repr)
    return [c for c in sorted(cols)], out


def compare_query(spark, con, name, fn, sql):
    sdf = fn(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    rel = con.sql(sql)
    d_cols = rel.columns
    d_rows = rel.fetchall()
    sc, sr = _norm_rows(s_cols, s_rows)
    dc, dr = _norm_rows(d_cols, d_rows)
    problems = []
    if sc != dc:
        problems.append(f"columns differ: spark={sc} duckdb={dc}")
    if len(sr) != len(dr):
        problems.append(f"row counts differ: spark={len(sr)} duckdb={len(dr)}")
    if not problems and sr != dr:
        diff_s = [r for r in sr if r not in set(dr)][:3]
        diff_d = [r for r in dr if r not in set(sr)][:3]
        problems.append(
            f"values differ; only-spark={diff_s} only-duckdb={diff_d}"
        )
    return problems, len(sr)


def run_all(only: list[str] | None = None):
    import duckdb

    from tabular_data_semantics_py_spark.session import get_spark

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as entry

    qs = entry.queries()
    # a selection that names no registered query would compare nothing
    # and pass; reject it before paying for a Spark session
    if only is not None:
        unknown = [n for n in only if n not in qs]
        if unknown or not only:
            raise ValueError(f"unknown queries selected: {unknown}")

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    oracles = entry.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            problems, n = compare_query(spark, con, name, fn, oracles[name])
            results[name] = ("OK" if not problems else "MISMATCH", n, problems)
        except Exception as e:  # noqa: BLE001
            results[name] = ("ERROR", 0, [repr(e)[:300]])
    return results


if __name__ == "__main__":
    only = sys.argv[1].split(",") if len(sys.argv) > 1 else None
    res = run_all(only=only)
    bad = 0
    for name, (status, n, problems) in res.items():
        print(f"{status:9s} {name:28s} rows={n}")
        for p in problems:
            print(f"          {p}")
            bad += 1
    sys.exit(1 if bad else 0)
