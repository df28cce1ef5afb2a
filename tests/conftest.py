"""Shared Spark session for the suite (one JVM, module-scope reuse), plus
the registry-head ⇔ DuckDB-oracle differential check."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from processo_etl_spark import session  # noqa: E402

ORACLE_SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spk = session.get_spark(app_name="tests", cpus=4, shuffle_partitions=4)
    yield spk


def _norm(v):
    import datetime
    from decimal import Decimal

    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def _multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    key = lambda r: tuple(_norm(r[i]) for i in order)  # noqa: E731
    return sorted(cols), sorted(map(key, rows), key=repr)


@pytest.fixture
def assert_matches_oracle(spark):
    """``check(name)``: run the registered query and its registered
    DuckDB oracle on the sf0.001 tables and compare them as column-name
    sorted multisets (decimals and timestamps normalised)."""
    import duckdb

    from processo_etl_spark import catalog, plans

    def check(name):
        sdf = plans.all_queries()[name](spark, ORACLE_SF)
        srows = [tuple(r) for r in sdf.collect()]
        con = duckdb.connect()  # keep alive: the relation weak-refs it
        for tname in catalog.TABLES:
            con.execute(
                f"CREATE VIEW {tname} AS SELECT * FROM "
                f"'{catalog.table_path(ORACLE_SF, tname)}'"
            )
        res = con.sql(plans.all_oracles()[name])
        assert _multiset(sdf.columns, srows) == _multiset(
            res.columns, res.fetchall()
        ), f"{name}: Spark vs DuckDB multiset mismatch"
        assert len(srows) > 0

    return check


@pytest.fixture
def run_on_table(spark):
    """``run(df, name)``: collect the registered query ``name`` with
    every table it reads replaced by the in-memory fixture ``df``."""
    from processo_etl_spark import plans

    def run(df, name):
        fn = plans.all_queries()[name]
        orig = fn.__globals__["t"]
        fn.__globals__["t"] = lambda spark, sf_dir, name: df
        try:
            return fn(spark, "x").collect()
        finally:
            fn.__globals__["t"] = orig

    return run
