"""Round-15 structural fusions: results must be identical on every code
path (the reuse cut and the AQE pin themselves: ``tests/test_adaptive.py``)."""

from __future__ import annotations

import os


def _fixture(spark):
    rows = [(g, v) for g in ("a", "b") for v in (1.0, 2.0, 2.0, 5.0, -3.0)]
    return spark.createDataFrame(rows, "g: string, v: double")


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


def _checkpointed_rdds(root):
    return {d for _, ds, _ in os.walk(root) for d in ds if d.startswith("rdd-")}


def test_seasonal_reuse_output_parity(spark, monkeypatch, kept_cuts):
    """reuse_output=True returns the identical frame content as the
    default lazy shape on both arms, and materializes the decomposition
    exactly when its detrended frame is cut: no checkpoint on the
    default arm, two on the forced arm (the detrended frame and the
    output)."""
    import datetime

    from artigraph_spark.operators.timeseries import seasonal_decompose

    rows = [
        (datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d, hours=h),)
        for d in range(21)
        for h in range(d % 5 + 1)
    ]
    df = spark.createDataFrame(rows, "ts: timestamp")
    base = sorted(map(tuple, seasonal_decompose(df, "ts", period=7).collect()))
    assert len(base) > 0
    for arm, threshold, cuts in (("default", None, 0), ("forced", "0", 2)):
        if threshold is None:
            monkeypatch.delenv("SPARK_GRAFT_REUSE_MIN_BYTES", raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", threshold)
        before = _checkpointed_rdds(kept_cuts)
        fused = sorted(
            map(tuple, seasonal_decompose(df, "ts", period=7, reuse_output=True).collect())
        )
        assert fused == base
        assert len(_checkpointed_rdds(kept_cuts) - before) == cuts, arm
