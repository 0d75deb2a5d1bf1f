"""Kaplan–Meier survival curves: hand-computed expectations on tiny
inputs and the observed-flag contract (the oracle queries carry the
at-scale parity; each prefix arm's plan shape is in test_prefix_gate)."""

from __future__ import annotations

import math

import pytest


def test_kaplan_meier_hand_computed(spark):
    from artigraph_spark.operators.timeseries import kaplan_meier

    # durations: t=1 (2 events of 5 at risk), t=2 (1 censored),
    # t=3 (1 event of 2 at risk), t=4 (1 censored)
    rows = [(1, 1), (1, 1), (2, 0), (3, 1), (4, 0)]
    df = spark.createDataFrame(rows, "d: bigint, obs: int")
    out = {r["duration"]: r for r in kaplan_meier(df, "d", "obs").collect()}
    assert out[1]["n_risk"] == 5 and out[1]["n_event"] == 2
    s1 = round(math.exp(round(math.log(1 - 2 / 5), 9)), 9)
    assert out[1]["survival_r"] == pytest.approx(s1, abs=1e-9)
    # censoring at t=2 leaves survival unchanged
    assert out[2]["survival_r"] == out[1]["survival_r"]
    s3 = round(
        math.exp(round(math.log(1 - 2 / 5), 9) + round(math.log(1 - 1 / 2), 9)), 9
    )
    assert out[3]["n_risk"] == 2 and out[3]["survival_r"] == pytest.approx(s3)
    assert out[4]["n_censored"] == 1


def test_kaplan_meier_drops_to_zero_when_all_remaining_exit(spark):
    from artigraph_spark.operators.timeseries import kaplan_meier

    df = spark.createDataFrame([(1, 1), (2, 1), (2, 1)], "d: bigint, obs: int")
    out = {r["duration"]: r["survival_r"] for r in kaplan_meier(df, "d", "obs").collect()}
    # at t=2 every remaining subject exits with an event: survival exactly 0
    assert out[2] == 0.0 and out[1] > 0.0


def test_kaplan_meier_rejects_invalid_observed_flag(spark):
    from artigraph_spark.operators.timeseries import kaplan_meier

    df = spark.createDataFrame([(1, 1), (2, 2)], "d: bigint, obs: int")
    with pytest.raises(Exception, match="observed flag must be 0/1"):
        kaplan_meier(df, "d", "obs").collect()
