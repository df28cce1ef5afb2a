"""Incremental-maintenance heads (plans/incremental): mergeable daily
quantile histograms and incremental IVF index maintenance, against
their DuckDB oracles at sf0.001 plus hand-computed quantiles."""

from __future__ import annotations

import pytest

from processo_etl_spark.plans import all_queries

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "name",
    (
        "ann_index_incremental_update",
        "quantile_daily_histogram_merge",
    ),
)
def test_head_matches_oracle(assert_matches_oracle, name):
    assert_matches_oracle(name)


def test_quantile_merge_semantics(spark):
    """On the real fixture: the merged-histogram summary is INTERNALLY
    consistent — zero cell mismatches vs the direct whole-corpus
    histogram (sums commute), and the histogram-derived bucket equals
    the true k-th value's bucket for both quantiles (the one-bucket
    error bound collapses to equality at bucket granularity)."""
    out = all_queries()["quantile_daily_histogram_merge"](spark, SF).collect()
    assert {r["q_pct"] for r in out} == {50, 95}
    for r in out:
        assert r["n_cell_mismatch"] == 0
        assert r["bucket_match"] is True
        assert r["est_bucket"] == r["exact_bucket"]
        assert r["n_days"] > 0 and r["k"] >= 1


def test_quantile_merge_hand_computed(spark, tmp_path):
    """Tiny corpus with KNOWN quantiles through the same bucket
    arithmetic: values 0.1..2.0 step 0.1 over two days -> n=20,
    p50 k=10 -> v=1.0 -> bucket 10; p95 k=19 -> v=1.9 -> bucket 19."""
    import datetime

    rows = []
    for i in range(20):
        day = datetime.datetime(2026, 1, 1 + (i % 2))
        rows.append((day, (i + 1) / 10.0))
    spark.createDataFrame(rows, "ts timestamp, value double").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    out = {
        r["q_pct"]: r
        for r in all_queries()["quantile_daily_histogram_merge"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[50]["k"] == 10 and out[50]["est_bucket"] == 10
    assert out[95]["k"] == 19 and out[95]["est_bucket"] == 19
    for r in out.values():
        assert r["bucket_match"] and r["n_cell_mismatch"] == 0
        assert r["n_days"] == 2
