"""Aggregate heads (plans/aggregates): equi-depth binning and the
exact weighted median, against hand-computed and pure-Python replays
and their DuckDB oracles at sf0.001."""

from __future__ import annotations

import pytest

from processo_etl_spark import catalog
from processo_etl_spark.plans import all_queries

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "name",
    (
        "feature_binning_equidepth",
        "weighted_median_price_by_flag",
    ),
)
def test_head_matches_oracle(assert_matches_oracle, name):
    assert_matches_oracle(name)


def test_equidepth_bins_semantics(spark):
    """NTILE contract: 8 bins, sizes differ by at most 1, boundaries
    are monotone non-overlapping in sort order."""
    fn = all_queries()["feature_binning_equidepth"]
    rows = sorted(fn(spark, SF).collect(), key=lambda r: r["bin"])
    assert [r["bin"] for r in rows] == list(range(1, 9))
    sizes = [r["n"] for r in rows]
    assert max(sizes) - min(sizes) <= 1
    assert sum(sizes) == catalog.load(spark, SF, "lineitem").count()
    for a, b in zip(rows, rows[1:]):
        assert a["lo"] <= a["hi"] <= b["lo"] <= b["hi"]


def test_weighted_median_hand_computed(spark, run_on_table):
    """Lower weighted median (smallest v with 2*cumw >= total): flag A
    with (10,w1),(20,w2),(30,w1) -> 20; flag B hits the exact-half
    boundary (10,w1),(20,w1) -> 10; groups never mix despite the
    shared global cumsum."""
    rows = [
        ("A", 10.0, 1.0), ("A", 20.0, 2.0), ("A", 30.0, 1.0),
        ("B", 10.0, 1.0), ("B", 20.0, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "l_returnflag string, l_extendedprice double, l_quantity double"
    )
    out = {
        r["l_returnflag"]: (r["w_total"], r["weighted_median_price"])
        for r in run_on_table(df, "weighted_median_price_by_flag")
    }
    assert out == {"A": (4, 20.0), "B": (2, 10.0)}


def test_weighted_median_fixture_simulation(spark):
    """Pure-Python replay of the weighted median over the real
    lineitem fixture: sort each flag's (price, qty) pairs and take the
    smallest price whose doubled cumulative weight reaches the total."""
    rows = (
        catalog.load(spark, SF, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .collect()
    )
    acc: dict = {}
    for r in rows:
        acc.setdefault(r["l_returnflag"], []).append(
            (r["l_extendedprice"], int(r["l_quantity"]))
        )
    expect = {}
    for flag, pairs in acc.items():
        pairs.sort()
        total = sum(w for _, w in pairs)
        cum = 0
        for price, w in pairs:
            cum += w
            if 2 * cum >= total:
                expect[flag] = (total, price)
                break
    got = {
        r["l_returnflag"]: (r["w_total"], r["weighted_median_price"])
        for r in all_queries()["weighted_median_price_by_flag"](spark, SF).collect()
    }
    assert got == expect
