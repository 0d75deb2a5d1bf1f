"""Round-15 optimization internals: reliable-checkpoint routing for the
scale-adaptive reuse cut (``SPARK_GRAFT_REUSE_DIR``), hardened env
parsing, the typed bare-leaf guard, and the ``pinned_parallelism``
decorator, which runs pinned work in a cloned session and never writes
the caller's conf — results must be identical on every path."""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from artigraph_spark.operators._adaptive import pinned_parallelism

_FLAG = "spark.sql.adaptive.enabled"


def _fixture(spark):
    rows = [(g, v) for g in ("a", "b") for v in (1.0, 2.0, 2.0, 5.0, -3.0)]
    return spark.createDataFrame(rows, "g: string, v: double")


def test_reuse_dir_routes_to_reliable_checkpoint(spark, monkeypatch, tmp_path):
    from artigraph_spark.operators._adaptive import reuse_frame_cut

    ck = tmp_path / "reuse_ck"
    monkeypatch.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", "0")
    monkeypatch.setenv("SPARK_GRAFT_REUSE_DIR", str(ck))
    df = _fixture(spark).groupBy("g").count()
    expected = sorted(map(tuple, df.collect()))
    cut, fired = reuse_frame_cut(df)
    assert fired and cut is not df
    assert sorted(map(tuple, cut.collect())) == expected
    # the cut went through the RELIABLE checkpoint dir, not executor blocks
    files = [p for p, _, fs in os.walk(ck) for _ in fs]
    assert files, "reliable checkpoint wrote nothing under SPARK_GRAFT_REUSE_DIR"


def test_reuse_dir_unset_keeps_local_path(spark, monkeypatch, tmp_path):
    from artigraph_spark.operators._adaptive import reuse_frame_cut

    monkeypatch.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", "0")
    monkeypatch.delenv("SPARK_GRAFT_REUSE_DIR", raising=False)
    df = _fixture(spark).groupBy("g").count()
    cut, fired = reuse_frame_cut(df)
    assert fired
    assert "ExistingRDD" in cut._jdf.queryExecution().executedPlan().toString()


def test_malformed_threshold_env_falls_back(spark, monkeypatch):
    from artigraph_spark.operators._adaptive import reuse_frame

    monkeypatch.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", "not-a-number")
    df = _fixture(spark).groupBy("g").count()
    out = reuse_frame(df)  # must not raise; default threshold -> no-op here
    assert out is df


def test_bare_scan_leaf_reports_no_cut(spark, monkeypatch, tmp_path):
    """A raw file-scan leaf above threshold is NOT silently counted as
    materialized: the guard reports cut=False (each consumer's pruned
    re-scan beats one full-width cache copy) and leaves the plan alone."""
    from artigraph_spark.operators._adaptive import reuse_frame_cut

    path = str(tmp_path / "scan.parquet")
    _fixture(spark).write.parquet(path)
    monkeypatch.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", "0")
    monkeypatch.delenv("SPARK_GRAFT_REUSE_DIR", raising=False)
    scan = spark.read.parquet(path)
    out, fired = reuse_frame_cut(scan)
    assert out is scan and not fired


def test_already_cut_leaf_reports_cut_without_recut(spark, monkeypatch):
    from artigraph_spark.operators._adaptive import reuse_frame_cut

    monkeypatch.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", "0")
    monkeypatch.delenv("SPARK_GRAFT_REUSE_DIR", raising=False)
    pre = _fixture(spark).groupBy("g").count().localCheckpoint(eager=True)
    out, fired = reuse_frame_cut(pre)
    # eagerly materialized LogicalRDD with real stats: no second copy
    assert fired and out is pre


@pinned_parallelism
def _aqe_seen(df, *frames):
    """The AQE flag of the session each frame argument runs in."""
    return [f.sparkSession.conf.get(_FLAG) for f in (df, *frames)]


def _parquet_frame(spark, tmp_path):
    # parquet-backed: the estimate comes from real file-length stats (a
    # driver-local relation counts as zero by design)
    path = str(tmp_path / "pin.parquet")
    _fixture(spark).write.parquet(path)
    return spark.read.parquet(path)


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
    from artigraph_spark.operators import _adaptive

    df = _parquet_frame(spark, tmp_path)
    monkeypatch.setattr(_adaptive, "estimated_input_bytes", lambda df: None)
    spark.conf.set(_FLAG, "true")
    try:
        assert _aqe_seen(df) == ["true"]
    finally:
        spark.conf.unset(_FLAG)


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


# --- r15 structural fusions: results identical on every code path ---
# (the spearman marginal-fusion experiment was REVERTED on end-to-end
# measurement — see OPTIMIZATION_r15.md; no fused path remains to test)


def test_winsorize_extreme_quantiles_do_not_clip(spark):
    """lo_q=0 / hi_q=1: the fused conditional aggregation must yield the
    group min/max (every cum >= ceil(0*n)=0; only the last value has
    cum = n), i.e. no row is clipped."""
    from artigraph_spark.operators.quality import winsorize

    df = _fixture(spark)
    out = winsorize(df, "g", "v", lo_q=0.0, hi_q=1.0).collect()
    assert all(r.value_clipped == r.v for r in out)


def test_markov_cut_path_matches_window_path(spark, monkeypatch):
    """The broadcast-total path (reuse cut fired) and the window path
    (below threshold) must produce identical stationary vectors."""
    from artigraph_spark.operators.timeseries import markov_stationary

    rows = []
    seq = ["a", "b", "a", "c", "b", "b", "a", "c", "c", "a", "b", "a"]
    for u in range(4):
        for i, s in enumerate(seq):
            rows.append((f"u{u}", float(1000 + i), s, i))
    df = spark.createDataFrame(rows, "user: string, ts: double, ev: string, eid: int")
    monkeypatch.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", str(1 << 60))
    window_path = sorted(
        map(tuple, markov_stationary(df, "user", "ts", "ev", "eid", iterations=6).collect())
    )
    monkeypatch.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", "0")
    cut_path = sorted(
        map(tuple, markov_stationary(df, "user", "ts", "ev", "eid", iterations=6).collect())
    )
    assert window_path == cut_path and len(window_path) == 3


def test_seasonal_reuse_output_parity(spark, monkeypatch):
    """reuse_output=True under a forced cut returns the identical frame
    content as the default lazy shape."""
    import datetime

    from artigraph_spark.operators.timeseries import seasonal_decompose

    rows = [
        (datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d, hours=h),)
        for d in range(21)
        for h in range(d % 5 + 1)
    ]
    df = spark.createDataFrame(rows, "ts: timestamp")
    base = sorted(map(tuple, seasonal_decompose(df, "ts", period=7).collect()))
    monkeypatch.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", "0")
    fused = sorted(
        map(tuple, seasonal_decompose(df, "ts", period=7, reuse_output=True).collect())
    )
    assert base == fused and len(base) > 0


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
        monkeypatch.delenv("SPARK_GRAFT_REUSE_MIN_BYTES", raising=False)
        assert _aqe_seen(df, seeds) == ["false", "false"]
        # malformed threshold: the default, so pinned
        monkeypatch.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", "not-a-number")
        assert _aqe_seen(df) == ["false"]
        # above threshold (forced to 1 byte): NOT pinned
        monkeypatch.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", "1")
        assert _aqe_seen(df, seeds) == ["true", "true"]
        # a threshold of 0 never pins
        monkeypatch.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", "0")
        assert _aqe_seen(df) == ["true"]
        monkeypatch.delenv("SPARK_GRAFT_REUSE_MIN_BYTES")
        out = pinned_parallelism(lambda d: d.groupBy("g").count())(df)
        assert out.sparkSession is spark
        assert sorted(map(tuple, out.collect())) == [("a", 5), ("b", 5)]
        assert spark.conf.get(_FLAG) == "true"
    finally:
        spark.conf.unset(_FLAG)
