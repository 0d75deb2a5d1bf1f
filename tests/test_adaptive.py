"""``operators._adaptive``: the one size estimate (``_estimate``) behind the
reuse cut, the AQE pin and the prefix/rank gate — leaf-sum semantics, the
source estimate a cut records for every frame derived from it, the
reliable cut under the context's checkpoint directory, the fail-safe answers for unknown or materialized leaves, and the
``pinned_parallelism`` decorator, which runs pinned work in a cloned
session and never writes the caller's conf. Results are identical on
every path."""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from artigraph_spark.operators import _adaptive
from artigraph_spark.operators._adaptive import (
    _estimate,
    cut_frame,
    pinned_parallelism,
    reuse_frame,
    reuse_frame_cut,
    summary_sized,
)

_ENV = "SPARK_GRAFT_REUSE_MIN_BYTES"
_FLAG = "spark.sql.adaptive.enabled"


def _fixture(spark):
    rows = [(g, v) for g in ("a", "b") for v in (1.0, 2.0, 2.0, 5.0, -3.0)]
    return spark.createDataFrame(rows, "g: string, v: double")


def _has_rdd_scan(df) -> bool:
    return "ExistingRDD" in df._jdf.queryExecution().executedPlan().toString()


def _parquet_frame(spark, tmp_path):
    # parquet-backed: the estimate comes from real file-length stats (a
    # driver-local relation is an unknown leaf)
    path = str(tmp_path / "pin.parquet")
    _fixture(spark).write.parquet(path)
    return spark.read.parquet(path)


@pinned_parallelism
def _aqe_seen(df, *frames):
    """The AQE flag of the session each frame argument runs in."""
    return [f.sparkSession.conf.get(_FLAG) for f in (df, *frames)]


@pytest.fixture()
def adaptive_on(spark):
    spark.conf.set(_FLAG, "true")
    yield
    spark.conf.unset(_FLAG)


# --- the estimate ---


def test_estimate_sums_leaves(spark, tmp_path):
    path = str(tmp_path / "leaves.parquet")
    _fixture(spark).write.parquet(path)
    a = spark.read.parquet(path)
    single = _estimate(a.groupBy("g").count())
    joined = _estimate(a.join(a.select(F.col("g").alias("g2")), F.col("g") == F.col("g2")))
    assert single.known > 0 and (single.source, single.unknown) == (0, 0)
    # Leaf-sum semantics: a self-join counts the input twice, never the
    # (CBO-less) multiplicative root estimate.
    assert joined.known == 2 * single.known
    # a driver-local relation has no stats -> an unknown leaf, not huge
    assert _estimate(_fixture(spark).groupBy("g").count()) == (0, 0, 1, None)
    # a bare leaf names its own class
    assert _estimate(a).root == "LogicalRelation"


def test_cut_records_its_source_estimate(spark, monkeypatch):
    src = spark.range(0, 500)
    want = _estimate(src).known
    cut = cut_frame(src.groupBy((F.col("id") % 7).alias("g")).count())
    # the cut leaf reads as the input it was computed from, and so does
    # every frame derived from it, before and after an action
    assert _estimate(cut) == (0, want, 0, "LogicalRDD")
    derived = cut.groupBy("g").count().join(cut, "g")
    assert _estimate(derived) == (0, 2 * want, 0, None)
    derived.collect()
    assert _estimate(derived) == (0, 2 * want, 0, None)
    # an unknown leaf of the cut frame stays unknown through the cut
    local = cut_frame(_fixture(spark).groupBy("g").count())
    ids = src.select(F.col("id").cast("string").alias("g"))
    assert _estimate(local.join(ids, "g")) == (want, 0, 1, None)


# --- the reuse cut ---


def test_reuse_frame_noop_below_threshold(spark, monkeypatch):
    monkeypatch.delenv(_ENV, raising=False)
    df = _fixture(spark).groupBy("g").count()
    out = reuse_frame(df)
    assert out is df  # identical object: the declared plan is untouched


def test_reuse_frame_cuts_above_threshold_same_rows(spark, monkeypatch):
    df = _fixture(spark).groupBy("g").count()
    expected = sorted(map(tuple, df.collect()))
    monkeypatch.setenv(_ENV, "0")
    cut = reuse_frame(df)
    assert cut is not df
    assert _has_rdd_scan(cut)
    assert sorted(map(tuple, cut.collect())) == expected


def test_reuse_dir_routes_to_reliable_checkpoint(spark, monkeypatch, reliable_cuts):
    monkeypatch.setenv(_ENV, "0")
    df = _fixture(spark).groupBy("g").count()
    expected = sorted(map(tuple, df.collect()))
    cut, fired = reuse_frame_cut(df)
    assert fired and cut is not df
    assert sorted(map(tuple, cut.collect())) == expected
    # the cut went through the RELIABLE checkpoint dir, not executor blocks
    files = [p for p, _, fs in os.walk(reliable_cuts) for _ in fs]
    assert files, "reliable checkpoint wrote nothing under the checkpoint dir"
    # and it records its source estimate like the executor-local cut
    src = spark.range(0, 50)
    ranged, _ = reuse_frame_cut(src.groupBy((F.col("id") % 3).alias("g")).count())
    assert _estimate(ranged) == (0, _estimate(src).known, 0, "LogicalRDD")


def test_reuse_dir_unset_keeps_local_path(spark, monkeypatch, tmp_path):
    monkeypatch.setenv(_ENV, "0")
    # the test session's context has no checkpoint directory
    assert spark.sparkContext.getCheckpointDir() is None
    df = _fixture(spark).groupBy("g").count()
    cut, fired = reuse_frame_cut(df)
    assert fired
    assert _has_rdd_scan(cut)


def _checkpointed_rdds(root):
    return {d for p, ds, _ in os.walk(root) for d in ds if d.startswith("rdd-")}


def test_operator_cuts_follow_checkpoint_dir(spark, monkeypatch, request):
    """Operator lineage cuts go through ``_adaptive.cut_frame``: with a
    context checkpoint directory they land as reliable checkpoints under
    it instead of executor-local blocks, which cannot be replayed after
    executor loss, and give the same rows."""
    from artigraph_spark.operators.quality import robust_outliers
    from artigraph_spark.operators.timeseries import kaplan_meier, restricted_mean_survival

    def values():
        return spark.range(0, 24).select(
            (F.col("id") % 2).cast("string").alias("g"),
            F.when(F.col("id") == 7, F.lit(500.0)).otherwise(F.col("id") % 5).alias("v"),
        )

    def curve():
        # a Range leaf is summary-sized: kaplan_meier takes its plain-window
        # arm and makes no cut of its own
        units = spark.range(1, 30).select(
            F.col("id").alias("d"), (F.col("id") % 2).cast("int").alias("obs")
        )
        return kaplan_meier(units, "d", "obs")

    monkeypatch.delenv(_ENV, raising=False)
    want_outliers = sorted(robust_outliers(values(), "g", "v").collect())
    want_rmst = restricted_mean_survival(curve(), "duration", "survival_r", 20).collect()

    ck = request.getfixturevalue("kept_cuts")
    got = sorted(robust_outliers(values(), "g", "v").collect())
    # the median and the MAD frames
    assert len(_checkpointed_rdds(ck)) == 2
    assert got == want_outliers
    rmst = restricted_mean_survival(curve(), "duration", "survival_r", 20)
    assert rmst.collect() == want_rmst
    # the curve cut
    assert len(_checkpointed_rdds(ck)) == 3


def test_malformed_threshold_env_falls_back(spark, monkeypatch):
    monkeypatch.setenv(_ENV, "not-a-number")
    df = _fixture(spark).groupBy("g").count()
    out = reuse_frame(df)  # must not raise; default threshold -> no-op here
    assert out is df


def test_bare_scan_leaf_reports_no_cut(spark, monkeypatch, tmp_path):
    """A raw file-scan leaf above threshold is NOT silently counted as
    materialized: the guard reports cut=False (each consumer's pruned
    re-scan beats one full-width cache copy) and leaves the plan alone."""
    path = str(tmp_path / "scan.parquet")
    _fixture(spark).write.parquet(path)
    monkeypatch.setenv(_ENV, "0")
    scan = spark.read.parquet(path)
    out, fired = reuse_frame_cut(scan)
    assert out is scan and not fired
    # A one-split source comes out of load() under a no-shuffle
    # coalesce(1); it is still a bare scan leaf, not a frame to cut.
    from artigraph_spark.sources import load

    _fixture(spark).coalesce(1).write.parquet(str(tmp_path / "part.parquet"))
    loaded = load(spark, str(tmp_path), "part")
    assert "Coalesce 1" in loaded._jdf.queryExecution().executedPlan().toString()
    assert _estimate(loaded).root == "LogicalRelation"
    out, fired = reuse_frame_cut(loaded)
    assert out is loaded and not fired


def test_already_cut_leaf_reports_cut_without_recut(spark, monkeypatch):
    monkeypatch.setenv(_ENV, "0")
    pre = _fixture(spark).groupBy("g").count().localCheckpoint(eager=True)
    out, fired = reuse_frame_cut(pre)
    # an eagerly materialized LogicalRDD: no second copy
    assert fired and out is pre


def test_users_own_checkpoint_leaf_fails_safe(spark, monkeypatch, adaptive_on):
    """A localCheckpoint the engine did not make carries no record: it is
    an unknown leaf, so the gate takes the bucketed arm, nothing pins, and
    the forced cut reports the leaf as materialized without a copy."""
    monkeypatch.delenv(_ENV, raising=False)
    pre = spark.range(0, 50).groupBy((F.col("id") % 3).alias("g")).count()
    pre = pre.localCheckpoint(eager=True)
    assert _estimate(pre) == (0, 0, 1, "LogicalRDD")
    assert not summary_sized(pre)
    assert not summary_sized(pre.groupBy("g").count())
    assert _aqe_seen(pre) == ["true"]
    assert reuse_frame_cut(pre) == (pre, False)
    monkeypatch.setenv(_ENV, "0")
    out, fired = reuse_frame_cut(pre)
    assert fired and out is pre


def test_derived_from_a_cut_above_threshold_reads_large(spark, monkeypatch, adaptive_on):
    """A cut's leaf reads as the input it stands for, not as its own
    (summary-sized) output: a frame derived from a cut made at or above
    the threshold is neither summary-sized nor pinnable."""
    total = spark.range(0, 500).agg(F.count(F.lit(1)).alias("n"))
    monkeypatch.setenv(_ENV, str(_estimate(total).known))
    cut, fired = reuse_frame_cut(total)
    assert fired
    derived = cut.select((F.col("n") + 1).alias("n1"))
    assert not summary_sized(derived)
    assert _aqe_seen(derived) == ["true"]
    assert derived.collect()[0]["n1"] == 501


def test_robust_outliers_gates_see_summary_sized_inputs(spark, monkeypatch):
    """Both of robust_outliers' prefix walks take the plain-window arm
    on a small Range input: the MAD pass's input joins the cut median,
    whose leaf reads as the Range it was computed from."""
    from artigraph_spark.operators.quality import robust_outliers

    monkeypatch.delenv(_ENV, raising=False)
    seen = []
    real = _adaptive.summary_sized

    def spy(df):
        seen.append(real(df))
        return seen[-1]

    monkeypatch.setattr(_adaptive, "summary_sized", spy)
    df = spark.range(0, 500).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.when(F.col("id") == 7, F.lit(900.0)).otherwise(F.col("id") % 11).alias("v"),
    )
    out = robust_outliers(df, "g", "v")
    assert seen == [True, True]
    assert out.filter("is_outlier").count() == 1


# --- the AQE pin ---


def test_pinned_parallelism_nested_scopes(spark, tmp_path):
    """A pinned operator calling another pinned operator: the inner one
    also runs AQE-off, and the caller's session is never touched."""
    df = _parquet_frame(spark, tmp_path)

    @pinned_parallelism
    def outer(df):
        return [df.sparkSession.conf.get(_FLAG)] + _aqe_seen(df)

    spark.conf.set(_FLAG, "true")
    try:
        assert outer(df) == ["false", "false"]
        assert spark.conf.get(_FLAG) == "true"
    finally:
        spark.conf.unset(_FLAG)


@pytest.mark.parametrize("before", [None, "true", "false"])
def test_pinned_parallelism_leaves_caller_conf_alone(spark, tmp_path, before):
    """The caller's AQE flag reads exactly as before after a pinned call —
    unset stays unset, an explicit value stays — also when the call raises."""
    df = _parquet_frame(spark, tmp_path)

    @pinned_parallelism
    def fails(df):
        assert df.sparkSession.conf.get(_FLAG) == "false"
        raise RuntimeError("boom")

    if before is None:
        spark.conf.unset(_FLAG)
    else:
        spark.conf.set(_FLAG, before)
    try:
        assert _aqe_seen(df) == ["false"]
        assert spark.conf.get(_FLAG, None) == before
        with pytest.raises(RuntimeError, match="boom"):
            fails(df)
        assert spark.conf.get(_FLAG, None) == before
    finally:
        spark.conf.unset(_FLAG)


def test_pinned_parallelism_unknown_estimate_does_not_pin(spark, monkeypatch, tmp_path):
    df = _parquet_frame(spark, tmp_path)
    monkeypatch.setattr(_adaptive, "_estimate", lambda df: None)
    spark.conf.set(_FLAG, "true")
    try:
        assert _aqe_seen(df) == ["true"]
    finally:
        spark.conf.unset(_FLAG)


def test_driver_local_frame_does_not_pin(spark, monkeypatch, adaptive_on):
    """A frame whose every leaf is a createDataFrame relation may hold any
    number of rows: the pinned function sees the caller's AQE flag."""
    monkeypatch.delenv(_ENV, raising=False)
    local = _fixture(spark)
    assert _aqe_seen(local.groupBy("g").count()) == ["true"]
    assert _aqe_seen(local.join(_fixture(spark), "g")) == ["true"]


def test_pinned_operators_run_concurrently_with_adaptive_query(spark, tmp_path):
    """Two pinned operators and one query on the caller's session, all
    planning at the same time in three threads: each pinned one plans
    without AQE, the caller's query plans adaptively, and the results
    match a sequential run."""
    df = _parquet_frame(spark, tmp_path)
    barrier = threading.Barrier(3)

    def shape(frame):
        plan = frame._jdf.queryExecution().executedPlan()
        return plan.getClass().getSimpleName(), sorted(map(tuple, frame.collect()))

    @pinned_parallelism
    def pinned_op(df):
        barrier.wait(timeout=60)  # both pinned calls are in flight here
        return shape(df.groupBy("g").agg(F.sum("v")))

    def caller_query():
        barrier.wait(timeout=60)
        return shape(df.groupBy("g").agg(F.sum("v")))

    spark.conf.set(_FLAG, "true")
    try:
        with ThreadPoolExecutor(3) as pool:
            pinned = [pool.submit(pinned_op, df) for _ in range(2)]
            adaptive = pool.submit(caller_query)
            results = [f.result(timeout=120) for f in (*pinned, adaptive)]
        rows = sorted(map(tuple, df.groupBy("g").agg(F.sum("v")).collect()))
        for plan, got in results[:2]:
            assert plan != "AdaptiveSparkPlanExec" and got == rows
        assert results[2] == ("AdaptiveSparkPlanExec", rows)
        assert spark.conf.get(_FLAG) == "true"
    finally:
        spark.conf.unset(_FLAG)


def test_pinned_parallelism_scale_adaptive(spark, monkeypatch, tmp_path):
    """The AQE pin fires only while the loop's estimated input is below
    SPARK_GRAFT_REUSE_MIN_BYTES; data-bound loops keep the session's AQE
    (the r15 x30 measurement). Every frame argument runs in the pinned
    session, and a frame result comes back on the caller's."""
    df = _parquet_frame(spark, tmp_path)
    seeds = _fixture(spark)  # a second frame: it must be pinned too
    spark.conf.set(_FLAG, "true")
    try:
        # below threshold (default 256 MB): pinned
        monkeypatch.delenv(_ENV, raising=False)
        assert _aqe_seen(df, seeds) == ["false", "false"]
        # malformed threshold: the default, so pinned
        monkeypatch.setenv(_ENV, "not-a-number")
        assert _aqe_seen(df) == ["false"]
        # above threshold (forced to 1 byte): NOT pinned
        monkeypatch.setenv(_ENV, "1")
        assert _aqe_seen(df, seeds) == ["true", "true"]
        # a threshold of 0 never pins
        monkeypatch.setenv(_ENV, "0")
        assert _aqe_seen(df) == ["true"]
        monkeypatch.delenv(_ENV)
        out = pinned_parallelism(lambda d: d.groupBy("g").count())(df)
        assert out.sparkSession is spark
        assert sorted(map(tuple, out.collect())) == [("a", 5), ("b", 5)]
        assert spark.conf.get(_FLAG) == "true"
    finally:
        spark.conf.unset(_FLAG)
