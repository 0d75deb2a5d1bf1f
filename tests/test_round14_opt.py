"""Round-14 optimization internals: the scale-adaptive reuse cut's wiring
into the bucketed rank/prefix-sum primitives — results must be identical
on the lazy and the cut path (the cut itself: ``tests/test_adaptive.py``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


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
