"""The ungrouped sketches are their grouped forms run with no group column.

Over a frame whose rows all share one group, each of ``count_min_sketch``,
``cms_estimate``, ``histogram_quantiles``, ``hll_sketch`` and
``hll_estimate`` gives the rows of its grouped form without the group
column. The inputs hold NULL keys, NULL and NaN values, and an empty frame.
On the empty frame the one difference is ``hll_estimate``'s global
aggregate: it still answers one row, the all-empty estimate α·m, where the
grouped form has no group to answer for."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from artigraph_spark.operators import sketches as sk

_M = 64


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.fixture(params=["rows", "empty"])
def frames(spark, request):
    rows = [
        (None if i % 9 == 0 else i % 23, None if i % 17 == 0 else float(i % 31) / 3)
        for i in range(400)
    ] + [(5, float("nan"))]
    if request.param == "empty":
        rows = []
    df = spark.createDataFrame(rows, "k long, x double").repartition(3)
    return df, df.withColumn("g", F.lit("only"))


def test_count_min_sketch_and_estimate_are_the_grouped_forms(frames):
    df, gdf = frames
    cms = sk.count_min_sketch(df, "k", width=16, depth=3, seed=7)
    gcms = sk.grouped_count_min_sketch(gdf, "g", "k", width=16, depth=3, seed=7)
    assert _rows(cms) == _rows(gcms.drop("g"))
    est = sk.cms_estimate(cms, df.select("k").distinct(), "k", width=16, depth=3, seed=7)
    gest = sk.grouped_cms_estimate(
        gcms, gdf.select("g", "k").distinct(), "g", "k", width=16, depth=3, seed=7
    )
    assert _rows(est) == _rows(gest.drop("g"))


def test_histogram_quantiles_is_the_grouped_form(frames):
    df, gdf = frames
    args = dict(lo=0.0, hi=8.0, bins=6, quantiles=[0.1, 0.5, 0.95, 1.0])
    got = sk.histogram_quantiles(df, "x", **args)
    want = sk.grouped_histogram_quantiles(gdf, "g", "x", **args)
    assert _rows(got) == _rows(want.drop("g"))


def test_hll_sketch_and_estimate_are_the_grouped_forms(frames):
    df, gdf = frames
    regs = sk.hll_sketch(df, "k", m=_M, seed=3)
    gregs = sk.grouped_hll_sketch(gdf, "g", "k", m=_M, seed=3)
    assert _rows(regs) == _rows(gregs.drop("g"))
    est = _rows(sk.hll_estimate(regs, m=_M))
    gest = _rows(sk.grouped_hll_estimate(gregs, "g", m=_M).drop("g"))
    if gest:
        assert est == gest
    else:
        alpha = 0.7213 / (1.0 + 1.079 / _M)
        assert est == [(pytest.approx(alpha * _M, rel=1e-12),)]
