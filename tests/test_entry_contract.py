"""Driver-contract guard: EVERY queries() entry must match its
oracle_sql() under the driver's comparison semantics (row count +
column names + order-insensitive values).

This is the full mirror sweep, in pytest (VERDICT r04 #2): the
driver's own correctness gate samples only 50 registered queries per
round, so a regression in a never-sampled query could land green
without this. Parametrized per query so a failure names the query
directly. Every registered query has an exact oracle, and an
oracle that fails to build raises out of ``oracle_sql()``."""

import duckdb
import pytest

from driver_mirror import compare_query, run_all

import __spark_entry__ as entry
from tabular_data_semantics_py_spark import entry_queries

ALL_QUERIES = sorted(entry.queries())


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


@pytest.fixture(scope="module")
def contract():
    return entry.queries(), entry.oracle_sql()


def test_all_oracle_keys_have_queries(contract):
    qs, oracles = contract
    assert set(oracles) == set(qs)


def test_oracle_build_failure_raises(monkeypatch):
    # a broken oracle must fail the contract, not degrade the query to
    # a rows-only check
    def broken():
        raise RuntimeError("oracle build failed")

    monkeypatch.setitem(entry_queries.ORACLES, "kg_cea", broken)
    with pytest.raises(RuntimeError, match="oracle build failed"):
        entry_queries.oracle_sql_strings()


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_query_matches_oracle(spark, duck, contract, name):
    qs, oracles = contract
    assert name in oracles, f"{name}: no oracle built"
    problems, n = compare_query(spark, duck, name, qs[name], oracles[name])
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
