"""Driver-contract guard: EVERY queries() entry must match its
oracle_sql() under the driver's comparison semantics (row count +
column names + order-insensitive values), at the driver's gate sf.

This is the full mirror sweep, in pytest (VERDICT r04 #2): the
driver's own correctness gate samples only 50 registered queries per
round, so a regression in a never-sampled query could land green
without this. Parametrized per query so a failure names the query
directly. Every registered query has an exact oracle, so a query
whose oracle fails to build fails here; the rows-only fallback
that ``oracle_sql_strings`` keeps for external callers is not
accepted."""

import os

import duckdb
import pytest

from driver_mirror import TABLES, compare_query, run_all

SF_DIR = "/root/testdata/sf0.01"
# sf-parametric oracles (doc_sample_stratified's keep-hash
# recomputation) must rebuild over the SAME sf the sweep drives — set
# before the contract fixture calls oracle_sql()
os.environ.setdefault("TDS_ORACLE_SF_DIR", SF_DIR)

import __spark_entry__ as entry  # noqa: E402

ALL_QUERIES = sorted(entry.queries())


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.fixture(scope="module")
def contract():
    return entry.queries(), entry.oracle_sql()


def test_all_oracle_keys_have_queries(contract):
    qs, oracles = contract
    assert set(oracles) == set(qs)


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_query_matches_oracle(spark, duck, contract, name):
    qs, oracles = contract
    assert name in oracles, f"{name}: no oracle built"
    problems, n = compare_query(spark, duck, name, qs[name], oracles[name], SF_DIR)
    assert not problems, problems
    assert n > 0


def test_entry_smoke(spark, contract):
    df = entry.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"subj", "pred", "obj", "obj_is_literal"}


@pytest.mark.parametrize("arg", ["", "kg_nope"], ids=["empty", "misspelt"])
def test_mirror_rejects_selection_of_unknown_queries(monkeypatch, arg):
    # the script's selection parse: an empty or misspelt list matches
    # no registered query, so it must fail before any Spark session
    import tabular_data_semantics_py_spark.session as session

    def no_spark(*a, **k):
        raise AssertionError("Spark session started for an unknown selection")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(ValueError, match=repr(arg)):
        run_all(only=arg.split(","))
