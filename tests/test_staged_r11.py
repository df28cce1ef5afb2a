"""Oracle differential check for the event, aggregate and profile heads
first certified together in round 11 and now registered from their
domain modules (plans/events, plans/aggregates, plans/profile).  The
module and test names keep the ids these checks have always run under;
the heads' semantic tests live in the matching domain test files."""

from __future__ import annotations

import pytest


@pytest.mark.parametrize(
    "name",
    (
        "anomaly_rolling_zscore",
        "benford_digit_audit",
        "changepoint_cusum_alerts",
        "events_debounce_lag",
        "feature_binning_equidepth",
        "graph_triangle_estimate_sampled",
        "markov_event_transitions",
        "sample_per_key_deterministic",
        "split_temporal_embargo",
        "weighted_median_price_by_flag",
    ),
)
def test_staged_head_matches_oracle(assert_matches_oracle, name):
    assert_matches_oracle(name)
