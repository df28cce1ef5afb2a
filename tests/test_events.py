"""Event-analytics heads (plans/events): hand-computed semantics and
pure-Python replays of the sequential heads over the whole fixture,
and their DuckDB oracle checks at sf0.001."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from processo_etl_spark import catalog
from processo_etl_spark.plans import all_queries

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "name",
    (
        "anomaly_rolling_zscore",
        "changepoint_cusum_alerts",
        "events_debounce_lag",
        "markov_event_transitions",
        "sample_per_key_deterministic",
        "split_temporal_embargo",
    ),
)
def test_head_matches_oracle(assert_matches_oracle, name):
    assert_matches_oracle(name)


def test_sample_per_key_semantics(spark):
    """Exactly min(k, group size) rows per key, ranks 1..k, and the
    selection is stable under repartitioning (determinism)."""
    fn = all_queries()["sample_per_key_deterministic"]
    rows = fn(spark, SF).collect()
    per_key: dict = {}
    for r in rows:
        per_key.setdefault(r["user_id"], []).append(r)
    ev = catalog.load(spark, SF, "events")
    sizes = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for uid, picked in per_key.items():
        assert len(picked) == min(5, sizes[uid])
        assert sorted(p["rk"] for p in picked) == list(
            range(1, len(picked) + 1)
        )
    # determinism: same sample from a differently-partitioned input
    again = {
        (r["user_id"], r["event_id"])
        for r in fn(spark, SF).sparkSession.createDataFrame(
            fn(spark, SF).collect()
        ).collect()
    }
    assert again == {(r["user_id"], r["event_id"]) for r in rows}


def test_embargo_split_semantics(spark):
    """Counts partition every event, the gap is genuinely quarantined,
    and leakage_safe holds by construction of the boundaries."""
    fn = all_queries()["split_temporal_embargo"]
    out = fn(spark, SF).collect()
    ev_n = catalog.load(spark, SF, "events").count()
    assert sum(r["n_train"] + r["n_test"] + r["n_embargoed"] for r in out) == ev_n
    assert all(r["leakage_safe"] for r in out)
    assert any(r["n_embargoed"] > 0 for r in out)  # the gap is non-trivial


def test_rolling_zscore_hand_computed(spark, run_on_table):
    """Baseline-frame (6 PRECEDING..1 PRECEDING) z-score semantics:
    short baselines (n<4) never flag; a flat baseline flags ANY
    deviation (zero-variance rule) and never flags its own repeats;
    on a noisy baseline [10,12,8,11,9,10] (centi S=6000, Q=6.1e6,
    var_n2 = 6*6.1e6-36e6 = 600000, sigma = sqrt(600000)/6 = 129.1c)
    a 15.00 probe has z = 500/129.1 = 3.87 -> flagged, an 11.50 probe
    has z = 150/129.1 = 1.16 -> not flagged."""
    import datetime

    base = datetime.datetime(2024, 1, 1)

    def mk(uid, vals):
        return [
            (uid, base + datetime.timedelta(minutes=i), i, v)
            for i, v in enumerate(vals)
        ]

    rows = (
        mk("u1", [10.0] * 7 + [1000.0])                      # flat + spike
        + mk("u2", [10.0, 12.0, 8.0, 11.0, 9.0, 10.0, 15.0])  # noisy + 3.87σ
        + mk("u3", [10.0, 12.0, 8.0, 11.0, 9.0, 10.0, 11.5])  # noisy + 1.16σ
    )
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp_ntz, event_id long, value double"
    )
    out = {
        (r["user_id"], r["event_id"]): r
        for r in run_on_table(df, "anomaly_rolling_zscore")
    }
    # u1: events 0-3 short baseline, 4-6 flat baseline + equal value
    assert not any(out[("u1", i)]["is_outlier"] for i in range(7))
    spike = out[("u1", 7)]
    assert spike["n_base"] == 6 and spike["s_centi"] == 6000
    assert spike["q_centi"] == 6_000_000
    assert spike["is_outlier"] is True     # zero-variance baseline, dev != 0
    hot = out[("u2", 6)]
    assert (hot["n_base"], hot["s_centi"], hot["q_centi"]) == (6, 6000, 6_100_000)
    assert hot["is_outlier"] is True       # z = 3.87
    mild = out[("u3", 6)]
    assert mild["is_outlier"] is False     # z = 1.16
    # probes with short baselines never flag even with huge deviation
    assert out[("u2", 3)]["n_base"] == 3 and not out[("u2", 3)]["is_outlier"]


def test_markov_transitions_hand_computed(spark, run_on_table):
    """u1 path A,B,A,B,B and u2 path B,A: pairs never cross users,
    counts and per-src totals match the hand-derived chain
    (A->B:2, B->A:2, B->B:1; totals A:2, B:3)."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("u1", base + datetime.timedelta(minutes=i), i, t)
        for i, t in enumerate(["A", "B", "A", "B", "B"])
    ] + [
        ("u2", base + datetime.timedelta(minutes=i), 10 + i, t)
        for i, t in enumerate(["B", "A"])
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp_ntz, event_id long, event_type string"
    )
    out = {
        (r["src_type"], r["dst_type"]): (r["n_pairs"], r["n_src_out"])
        for r in run_on_table(df, "markov_event_transitions")
    }
    assert out == {
        ("A", "B"): (2, 2),
        ("B", "A"): (2, 3),
        ("B", "B"): (1, 3),
    }


def test_cusum_hand_computed(spark, run_on_table):
    """Closed form P - min(0, runmin P) equals the textbook recurrence
    S_i = max(0, S_{i-1} + x_i - k) on a path that exercises the zero
    floor, the reset decay, and the alert threshold: values
    [10,10,300,10,300,300] with k=60.00 give centi CUSUM
    [0,0,24000,19000,43000,67000] -> alerts at events 2,4,5 only."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    vals = [10.0, 10.0, 300.0, 10.0, 300.0, 300.0]
    rows = [
        ("u1", base + datetime.timedelta(minutes=i), i, v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp_ntz, event_id long, value double"
    )
    out = {
        r["event_id"]: r
        for r in run_on_table(df, "changepoint_cusum_alerts")
    }
    # textbook recurrence, replayed in integers
    s, expect = 0, {}
    for i, v in enumerate(vals):
        s = max(0, s + round(v * 100) - 6000)
        expect[i] = s
    assert {i: r["s_cusum"] for i, r in out.items()} == expect
    assert expect == {0: 0, 1: 0, 2: 24000, 3: 19000, 4: 43000, 5: 67000}
    assert {i for i, r in out.items() if r["is_alert"]} == {2, 4, 5}


def test_debounce_hand_computed(spark, run_on_table):
    """Lag-relative 24h debounce: gaps compare to the immediate
    predecessor of the same (user, type); the first row per key always
    survives; an exactly-24h gap is kept (>=); other types and users
    never interact."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    h = datetime.timedelta(hours=1)
    rows = [
        # type A: 0h, 23h (dropped), 50h (kept: 27h from the 23h row,
        # even though that row itself was dropped - lag-relative)
        ("u1", base, 0, "A"),
        ("u1", base + 23 * h, 1, "A"),
        ("u1", base + 50 * h, 2, "A"),
        # type B interleaved: both kept (30h gap)
        ("u1", base, 3, "B"),
        ("u1", base + 30 * h, 4, "B"),
        # type C: exactly 24h -> kept
        ("u1", base, 5, "C"),
        ("u1", base + 24 * h, 6, "C"),
        # u2 type A within 24h of u1's rows: its own first row, kept
        ("u2", base + 23 * h, 7, "A"),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp_ntz, event_id long, event_type string"
    )
    out = {
        r["event_id"]: r["gap_us"]
        for r in run_on_table(df, "events_debounce_lag")
    }
    assert set(out) == {0, 2, 3, 4, 5, 6, 7}
    assert out[0] is None and out[3] is None and out[5] is None
    assert out[7] is None                      # u2's first row of type A
    assert out[2] == 27 * 3_600_000_000        # vs the DROPPED 23h row
    assert out[6] == 86_400_000_000            # boundary: exactly 24h kept


def test_cusum_closed_form_property():
    """No Spark: the windowable closed form P - min(0, runmin P) equals
    the sequential recurrence max(0, S + x - k) on arbitrary integer
    paths (hypothesis), including all-negative and all-positive drifts."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    K = 6000

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-50_000, max_value=50_000),
            min_size=0,
            max_size=60,
        )
    )
    def check(xs):
        s, p, mn = 0, 0, 0
        for x in xs:
            s = max(0, s + x - K)        # textbook recurrence
            p += x - K                   # drifted prefix sum
            mn = min(mn, p)              # running min incl. P_0 = 0
            assert s == p - mn

    check()


def test_event_heads_fixture_simulations(spark):
    """Pure-Python replay of the whole sf0.001 fixture for the three
    sequential heads: the Spark output must equal a row-by-row
    simulation (ordering (ts, event_id), centi rounding via
    round-half-even on near-integers is exact here)."""
    import datetime

    ev = sorted(
        catalog.load(spark, SF, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    # --- CUSUM simulation
    sim, state = {}, {}
    for r in ev:
        x = round(r["value"] * 100)
        s = max(0, state.get(r["user_id"], 0) + x - 6000)
        state[r["user_id"]] = s
        sim[r["event_id"]] = s
    got = {
        r["event_id"]: (r["s_cusum"], r["is_alert"])
        for r in all_queries()["changepoint_cusum_alerts"](spark, SF).collect()
    }
    assert len(got) == len(sim)
    for eid, s in sim.items():
        assert got[eid] == (s, s > 20000)
    # --- debounce simulation (lag-relative, per (user, type))
    last: dict = {}
    kept = {}
    utc = datetime.timezone.utc
    for r in ev:
        key = (r["user_id"], r["event_type"])
        # pin the naive fixture timestamp to UTC: a bare .timestamp()
        # applies the HOST zone, and across a DST boundary the local
        # offsets of two events differ, so gaps would not cancel
        us = int(r["ts"].replace(tzinfo=utc).timestamp() * 1_000_000)
        prev = last.get(key)
        if prev is None or us - prev >= 86_400_000_000:
            kept[r["event_id"]] = None if prev is None else us - prev
        last[key] = us
    got_d = {
        r["event_id"]: r["gap_us"]
        for r in all_queries()["events_debounce_lag"](spark, SF).collect()
    }
    assert got_d == kept
    # --- markov simulation
    from collections import Counter

    pairs: Counter = Counter()
    prev_by_user: dict = {}
    for r in ev:
        p = prev_by_user.get(r["user_id"])
        if p is not None:
            pairs[(p, r["event_type"])] += 1
        prev_by_user[r["user_id"]] = r["event_type"]
    src_tot: Counter = Counter()
    for (s_, _), n in pairs.items():
        src_tot[s_] += n
    got_m = {
        (r["src_type"], r["dst_type"]): (r["n_pairs"], r["n_src_out"])
        for r in all_queries()["markov_event_transitions"](spark, SF).collect()
    }
    assert got_m == {
        k: (n, src_tot[k[0]]) for k, n in pairs.items()
    }
