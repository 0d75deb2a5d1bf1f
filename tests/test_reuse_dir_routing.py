"""Operator lineage cuts route through ``_adaptive.cut_frame``: with
``SPARK_GRAFT_REUSE_DIR`` set they land as reliable checkpoints under that
directory instead of executor-local blocks, which cannot be replayed after
executor loss."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from artigraph_spark.operators.quality import robust_outliers
from artigraph_spark.operators.timeseries import kaplan_meier, restricted_mean_survival


def _checkpointed_rdds(root):
    return {d for p, ds, _ in os.walk(root) for d in ds if d.startswith("rdd-")}


def _values(spark):
    return spark.range(0, 24).select(
        (F.col("id") % 2).cast("string").alias("g"),
        F.when(F.col("id") == 7, F.lit(500.0)).otherwise(F.col("id") % 5).alias("v"),
    )


def _curve(spark):
    # a Range leaf is summary-sized: kaplan_meier takes its plain-window
    # arm and makes no cut of its own
    units = spark.range(1, 30).select(
        F.col("id").alias("d"), (F.col("id") % 2).cast("int").alias("obs")
    )
    return kaplan_meier(units, "d", "obs")


def test_lazy_cuts_route_through_reuse_dir(spark, monkeypatch, tmp_path):
    monkeypatch.delenv("SPARK_GRAFT_REUSE_MIN_BYTES", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_REUSE_DIR", raising=False)
    want_outliers = sorted(robust_outliers(_values(spark), "g", "v").collect())
    want_rmst = restricted_mean_survival(_curve(spark), "duration", "survival_r", 20).collect()

    ck = tmp_path / "reuse_ck"
    monkeypatch.setenv("SPARK_GRAFT_REUSE_DIR", str(ck))
    got = sorted(robust_outliers(_values(spark), "g", "v").collect())
    # the median and the MAD frames
    assert len(_checkpointed_rdds(ck)) == 2
    assert got == want_outliers
    rmst = restricted_mean_survival(_curve(spark), "duration", "survival_r", 20)
    assert rmst.collect() == want_rmst
    # the curve cut
    assert len(_checkpointed_rdds(ck)) == 3

