"""The size gate inside ``_ranks``' two prefix walks
(``bucketed_prefix_sums``, ``bucketed_group_value_ranks``), and so behind
every operator that calls them, kaplan_meier and logrank_test included:
``_adaptive.summary_sized`` picks the plain-window arm only for a frame
whose every leaf has a known estimate (a Catalyst estimate, or the source
estimate a cut recorded) summing below the reuse threshold, and fails
safe (the bucketed arm) otherwise.
On the bucketed arm the walks' own lineage cuts route through
``_adaptive.cut_frame``. Ranks, prefix sums and spearman_corr give the
same rows on the lazy and the forced-cut path."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from artigraph_spark import plans as P
from artigraph_spark.operators import _adaptive
from artigraph_spark.operators._adaptive import summary_sized
from artigraph_spark.operators._ranks import bucketed_prefix_sums
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
    monkeypatch.setattr(_adaptive, "_estimate", lambda df: _adaptive._Estimate(10, 0, 1, None))
    assert not summary_sized(_units(spark))


def test_failed_estimate_takes_bucketed_arm(spark, monkeypatch):
    monkeypatch.delenv(_ENV, raising=False)
    assert _adaptive._estimate(object()) is None  # the walk never raises
    monkeypatch.setattr(_adaptive, "_estimate", lambda df: None)
    assert not summary_sized(_units(spark))


def test_estimate_at_threshold_takes_bucketed_arm(spark, monkeypatch):
    df = _units(spark)
    est = _adaptive._estimate(df).known
    assert est and est > 0
    monkeypatch.setenv(_ENV, str(est))
    assert not summary_sized(df)
    monkeypatch.setenv(_ENV, str(est + 1))
    assert summary_sized(df)
    monkeypatch.setenv(_ENV, "0")
    assert not summary_sized(df)


def test_cut_frame_is_not_summary_sized(spark, monkeypatch):
    monkeypatch.delenv(_ENV, raising=False)
    agg = _units(spark).groupBy("d").count()
    assert summary_sized(agg)
    cut = agg.localCheckpoint(eager=False)
    # a cut the engine did not make carries no record of its source: its
    # materialized leaf is unknown, whatever Catalyst estimates for it
    assert _adaptive._estimate(cut) == (0, 0, 1, "LogicalRDD")
    assert not summary_sized(cut)
    assert not summary_sized(cut.groupBy("d").count())
    assert not summary_sized(cut.join(_units(spark), "d"))


def test_prefix_walk_over_a_cut_histogram_stays_bucketed(spark, monkeypatch):
    # psi_drift's shape above the threshold: the base histogram is cut
    # before the prefix call, which must not then read it as small
    monkeypatch.delenv(_ENV, raising=False)
    hist = _units(spark).groupBy("d").agg(F.sum("obs").alias("n"))
    small = bucketed_prefix_sums(hist, [], "d", ["n"], buckets=4)
    cut = bucketed_prefix_sums(hist.localCheckpoint(eager=False), [], "d", ["n"], buckets=4)
    assert "__bk" not in P.physical_plan(small, "simple")
    assert "__bk" in P.physical_plan(cut, "simple")
    assert sorted(cut.collect()) == sorted(small.collect())


def test_malformed_threshold_falls_back_to_default(spark, monkeypatch):
    monkeypatch.setenv(_ENV, "not-a-number")
    default = 256 * 1024 * 1024
    monkeypatch.setattr(_adaptive, "_estimate", lambda df: _adaptive._Estimate(default - 1, 0, 0, None))
    assert summary_sized(_units(spark))
    monkeypatch.setattr(_adaptive, "_estimate", lambda df: _adaptive._Estimate(0, default, 0, None))
    assert not summary_sized(_units(spark))


@pytest.mark.parametrize("threshold", [None, "0"])
def test_gate_is_taken_once_on_the_uncut_risk_table(spark, monkeypatch, threshold):
    if threshold is None:
        monkeypatch.delenv(_ENV, raising=False)
    else:
        monkeypatch.setenv(_ENV, threshold)
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


def test_bucketed_arm_cuts_route_through_reuse_dir(spark, monkeypatch, kept_cuts):
    monkeypatch.setenv(_ENV, "0")
    want_km = kaplan_meier(_units(spark), "d", "obs").collect()
    # both of kaplan_meier's cuts (risk table, term frame) went to the dir
    assert len(_checkpointed_rdds(kept_cuts)) == 2
    logrank_test(_units(spark), "d", "obs", "g").collect()
    assert len(_checkpointed_rdds(kept_cuts)) == 3
    # same curve as the plain-window arm
    monkeypatch.delenv(_ENV)
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


def test_kaplan_meier_windows_are_bucket_partitioned(spark, monkeypatch):
    # the bucketed arm, pinned by the gate
    monkeypatch.delenv(_ENV, raising=False)
    monkeypatch.setattr(_adaptive, "summary_sized", lambda df: False)
    df = spark.createDataFrame([(i, i % 2) for i in range(1, 50)], "d: bigint, obs: int")
    plan = P.physical_plan(kaplan_meier(df, "d", "obs"), "simple")
    # the data-sized local windows partition by bucket; the only
    # unpartitioned windows left are the <=buckets-row offsets frames
    assert "hashpartitioning(__bk" in plan


def test_kaplan_meier_summary_sized_input_takes_plain_windows(spark, monkeypatch):
    from tests.test_round11_ops import _naive_km

    # the window arm, by the real gate: a Range leaf has a known (tiny)
    # estimate below the default threshold
    monkeypatch.delenv(_ENV, raising=False)
    df = spark.range(1, 50).select(
        F.col("id").alias("d"), (F.col("id") % 2).cast("int").alias("obs")
    )
    out = kaplan_meier(df, "d", "obs")
    plan = P.physical_plan(out, "simple")
    # no bucket map and no lineage cut: the checkpoint scan is gone
    assert "__bk" not in plan
    assert "ExistingRDD" not in plan
    assert "Window" in plan
    got = {
        r["duration"]: (r["n_risk"], r["n_event"], r["n_censored"], r["survival_r"])
        for r in out.collect()
    }
    assert got == _naive_km([(i, i % 2) for i in range(1, 50)])


def test_logrank_risk_table_is_lineage_cut(spark, monkeypatch):
    # A Range source plans no ExistingRDD of its own, so one shows only
    # where the risk table is cut: on the forced-cut arm (a zero
    # threshold), never on the window arm the default gate picks here.
    df = spark.range(1, 40).select(
        F.col("id").alias("duration"),
        (F.col("id") % 2).cast("int").alias("observed"),
        (F.col("id") * 7 % 2).cast("int").alias("grp"),
    )
    for threshold, cut in ((None, False), ("0", True)):
        if threshold is None:
            monkeypatch.delenv(_ENV, raising=False)
        else:
            monkeypatch.setenv(_ENV, threshold)
        out = logrank_test(df, "duration", "observed", "grp")
        assert ("ExistingRDD" in P.physical_plan(out, "simple")) is cut
        # and the statistic itself still computes
        row = out.collect()[0]
        assert row["n_treat"] + row["n_control"] == 39


def _ranks_fixture(spark):
    rows = [(g, v) for g in ("a", "b") for v in (1.0, 2.0, 2.0, 5.0, -3.0)]
    return spark.createDataFrame(rows, "g: string, v: double")


@pytest.mark.parametrize("forced", [False, True])
def test_bucketed_ranks_identical_on_both_paths(spark, monkeypatch, forced):
    from artigraph_spark.operators._ranks import bucketed_group_value_ranks

    if forced:
        monkeypatch.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", "0")
    else:
        monkeypatch.delenv("SPARK_GRAFT_REUSE_MIN_BYTES", raising=False)
    out = bucketed_group_value_ranks(_ranks_fixture(spark), ["g"], "v", buckets=4)
    rows = {(r["g"], r["__v"]): (r["__f"], r["__rg"], r["__ng"]) for r in out.collect()}
    # exact competition ranks over (-3, 1, 2, 2, 5) per group
    for g in ("a", "b"):
        assert rows[(g, -3.0)] == (1, 1, 5)
        assert rows[(g, 1.0)] == (1, 2, 5)
        assert rows[(g, 2.0)] == (2, 3, 5)
        assert rows[(g, 5.0)] == (1, 5, 5)


@pytest.mark.parametrize("forced", [False, True])
def test_bucketed_prefix_sums_identical_on_both_paths(spark, monkeypatch, forced):
    from artigraph_spark.operators._ranks import bucketed_prefix_sums

    if forced:
        monkeypatch.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", "0")
    else:
        monkeypatch.delenv("SPARK_GRAFT_REUSE_MIN_BYTES", raising=False)
    hist = (
        _ranks_fixture(spark)
        .groupBy("g", F.col("v").alias("__v"))
        .agg(F.count(F.lit(1)).alias("__f"))
    )
    out = bucketed_prefix_sums(hist, ["g"], "__v", ["__f"], buckets=4)
    rows = {(r["g"], r["__v"]): (r["__pre___f"], r["__tot___f"]) for r in out.collect()}
    for g in ("a", "b"):
        assert rows[(g, -3.0)] == (0, 5)
        assert rows[(g, 1.0)] == (1, 5)
        assert rows[(g, 2.0)] == (2, 5)
        assert rows[(g, 5.0)] == (4, 5)


def test_spearman_identical_on_both_paths(spark, monkeypatch):
    from artigraph_spark.operators.orderstats import spearman_corr

    rows = [(float(i), float(i * i)) for i in range(1, 30)] + [(3.0, 4.0)]
    df = spark.createDataFrame(rows, "x: double, y: double")
    monkeypatch.delenv("SPARK_GRAFT_REUSE_MIN_BYTES", raising=False)
    lazy = spearman_corr(df, "x", "y").collect()[0]
    monkeypatch.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", "0")
    cut = spearman_corr(df, "x", "y").collect()[0]
    assert (lazy["n"], lazy["rho_r"]) == (cut["n"], cut["rho_r"])
