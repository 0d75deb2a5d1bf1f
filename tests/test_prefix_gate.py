"""The size gate behind kaplan_meier's and logrank_test's prefix sums:
``_adaptive.summary_sized`` picks the plain-window arm only for a frame
whose every leaf has a known estimate summing below the reuse threshold,
and fails safe (the bucketed arm) otherwise. Above the gate the two
operators' lineage cuts route through ``_adaptive.cut_frame``."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from artigraph_spark.operators import _adaptive
from artigraph_spark.operators._adaptive import summary_sized
from artigraph_spark.operators.timeseries import kaplan_meier, logrank_test

_ENV = "SPARK_GRAFT_REUSE_MIN_BYTES"


def _units(spark):
    # a Range leaf: known, tiny estimate
    return spark.range(1, 30).select(
        F.col("id").alias("d"),
        (F.col("id") % 2).cast("int").alias("obs"),
        (F.col("id") % 3 == 0).cast("int").alias("g"),
    )


def test_known_small_frame_is_summary_sized(spark, monkeypatch):
    monkeypatch.delenv(_ENV, raising=False)
    assert summary_sized(_units(spark).groupBy("d").count())


def test_unknown_leaf_takes_bucketed_arm(spark, monkeypatch):
    # a driver-local createDataFrame relation has no estimate
    local = spark.createDataFrame([(1, 1)], "d: bigint, obs: int")
    monkeypatch.delenv(_ENV, raising=False)
    assert not summary_sized(local)
    # a threshold above every real size: only the unknown leaf says no
    monkeypatch.setenv(_ENV, str(1 << 70))
    assert summary_sized(_units(spark))
    assert not summary_sized(local)
    assert not summary_sized(_units(spark).join(local, "d"))
    monkeypatch.setattr(_adaptive, "_leaf_sizes", lambda df: [10, 1 << 63])
    assert not summary_sized(_units(spark))


def test_failed_estimate_takes_bucketed_arm(spark, monkeypatch):
    monkeypatch.delenv(_ENV, raising=False)
    assert _adaptive._leaf_sizes(object()) is None  # the walk never raises
    monkeypatch.setattr(_adaptive, "_leaf_sizes", lambda df: None)
    assert not summary_sized(_units(spark))


def test_estimate_at_threshold_takes_bucketed_arm(spark, monkeypatch):
    df = _units(spark)
    est = _adaptive.estimated_input_bytes(df)
    assert est and est > 0
    monkeypatch.setenv(_ENV, str(est))
    assert not summary_sized(df)
    monkeypatch.setenv(_ENV, str(est + 1))
    assert summary_sized(df)
    monkeypatch.setenv(_ENV, "0")
    assert not summary_sized(df)


def test_malformed_threshold_falls_back_to_default(spark, monkeypatch):
    monkeypatch.setenv(_ENV, "not-a-number")
    default = 256 * 1024 * 1024
    monkeypatch.setattr(_adaptive, "_leaf_sizes", lambda df: [default - 1])
    assert summary_sized(_units(spark))
    monkeypatch.setattr(_adaptive, "_leaf_sizes", lambda df: [default])
    assert not summary_sized(_units(spark))


@pytest.mark.parametrize("threshold", [None, "0"])
def test_gate_is_taken_once_on_the_uncut_risk_table(spark, monkeypatch, threshold):
    if threshold is None:
        monkeypatch.delenv(_ENV, raising=False)
    else:
        monkeypatch.setenv(_ENV, threshold)
    monkeypatch.delenv("SPARK_GRAFT_REUSE_DIR", raising=False)
    seen = []
    real = _adaptive.summary_sized

    def spy(df):
        seen.append(df)
        return real(df)

    monkeypatch.setattr(_adaptive, "summary_sized", spy)
    kaplan_meier(_units(spark), "d", "obs", group_cols=["g"])
    logrank_test(_units(spark), "d", "obs", "g")
    assert len(seen) == 2
    for df in seen:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        names = {leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())}
        # the aggregate over the source, not a checkpointed LogicalRDD
        assert names == {"Range"}
        assert "duration" in df.columns


def _checkpointed_rdds(root):
    return {d for p, ds, _ in os.walk(root) for d in ds if d.startswith("rdd-")}


def test_bucketed_arm_cuts_route_through_reuse_dir(spark, monkeypatch, tmp_path):
    ck = tmp_path / "reuse_ck"
    monkeypatch.setenv(_ENV, "0")
    monkeypatch.setenv("SPARK_GRAFT_REUSE_DIR", str(ck))
    want_km = kaplan_meier(_units(spark), "d", "obs").collect()
    # both of kaplan_meier's cuts (risk table, term frame) went to the dir
    assert len(_checkpointed_rdds(ck)) == 2
    logrank_test(_units(spark), "d", "obs", "g").collect()
    assert len(_checkpointed_rdds(ck)) == 3
    # same curve as the plain-window arm
    monkeypatch.delenv(_ENV)
    monkeypatch.delenv("SPARK_GRAFT_REUSE_DIR")
    assert kaplan_meier(_units(spark), "d", "obs").collect() == want_km


def test_window_prefix_sums_has_no_suffix_frame(spark):
    from artigraph_spark import plans as P
    from artigraph_spark.operators._ranks import window_prefix_sums

    hist = _units(spark).groupBy("g", "d").agg(F.sum("obs").alias("n"))
    plan = P.physical_plan(window_prefix_sums(hist, ["g"], "d", ["n"]), "simple")
    # the exclusive running sum and the whole-partition total only —
    # never currentRow → unboundedFollowing (evaluated in O(n²))
    assert "currentrow$(), unboundedfollowing$()" not in plan.lower()
    assert "unboundedpreceding$(), -1" in plan.lower()
