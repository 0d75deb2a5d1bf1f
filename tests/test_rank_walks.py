"""Plan shapes of the four bucketed walks in ``operators._ranks``.

All four run the same core (bucket map, per-bucket offsets, within-bucket
window, one join), so their physical plans are pinned here by node count:
a change to the shared core that adds an exchange, a window or a join
shows up in every walk that uses it. The ungrouped walk broadcasts its
offsets (at most ``buckets + 2`` rows) whatever the input's size
estimate, so an unknown-size input plans no sort-merge join and a
non-numeric value plans no cartesian product."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from artigraph_spark.operators._ranks import (
    bucketed_group_row_numbers,
    bucketed_group_value_ranks,
    bucketed_prefix_sums,
    bucketed_row_numbers,
    window_prefix_sums,
)

_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?(\w+)", re.M)


def _shape(df) -> dict:
    """Exchange, Window and join node counts of the physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = Counter(_NODE.findall(plan))
    return {
        n: k
        for n, k in sorted(nodes.items())
        if "Exchange" in n or n == "Window" or n.endswith("Join") or n == "CartesianProduct"
    }


def _rows(spark):
    return spark.range(0, 200).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 37 % 101).alias("v"),
        F.col("id").alias("t"),
    )


def _hist(df, gcols):
    return df.groupBy(*gcols, "v").agg(F.count(F.lit(1)).alias("f"))


_WALKS = {
    "value_ranks": lambda df: bucketed_group_value_ranks(df, ["g"], "v", buckets=8),
    "prefix_grouped": lambda df: bucketed_prefix_sums(
        _hist(df, ["g"]), ["g"], "v", ["f"], buckets=8
    ),
    "prefix_ungrouped": lambda df: bucketed_prefix_sums(
        _hist(df, []), [], "v", ["f"], buckets=8
    ),
    "row_numbers": lambda df: bucketed_row_numbers(
        df, "v", ["t"], buckets=8, count_col="n"
    ),
    "row_numbers_desc": lambda df: bucketed_row_numbers(
        df, "v", ["t"], descending=True, buckets=8
    ),
    "group_row_numbers": lambda df: bucketed_group_row_numbers(
        df, ["g"], "v", ["t"], buckets=8, count_col="n"
    ),
}

# measured on a Range-backed input (test session: 4 shuffle partitions).
# The two BroadcastNestedLoopJoins are the one-row min/max frame
# cross-joined into the bucket map, once under each branch of the walk;
# the BroadcastHashJoin is the offsets join (the Range sizes are known
# and small, so even a grouped walk broadcasts).
_BROADCASTS = {"BroadcastExchange": 3, "BroadcastHashJoin": 1, "BroadcastNestedLoopJoin": 2}
_SHAPES = {
    "value_ranks": {**_BROADCASTS, "Exchange": 7, "Window": 3},
    "prefix_grouped": {**_BROADCASTS, "Exchange": 7, "Window": 3},
    "prefix_ungrouped": {**_BROADCASTS, "Exchange": 7, "Window": 3},
    "row_numbers": {**_BROADCASTS, "Exchange": 5, "Window": 3},
    "row_numbers_desc": {**_BROADCASTS, "Exchange": 5, "Window": 2},
    "group_row_numbers": {**_BROADCASTS, "Exchange": 5, "Window": 3},
}


@pytest.mark.parametrize("walk", sorted(_WALKS))
def test_walk_plan_shape(spark, monkeypatch, walk):
    monkeypatch.delenv("SPARK_GRAFT_REUSE_MIN_BYTES", raising=False)
    assert _shape(_WALKS[walk](_rows(spark))) == _SHAPES[walk]


def _local(spark, vtype):
    rows = [(i % 3, i * 37 % 101) for i in range(200)]
    df = spark.createDataFrame(rows, "g long, v long")
    return df.withColumn("v", F.col("v").cast(vtype))


@pytest.mark.parametrize("source", ["local", "range"])
def test_ungrouped_string_prefix_is_an_equi_join(spark, monkeypatch, source):
    monkeypatch.delenv("SPARK_GRAFT_REUSE_MIN_BYTES", raising=False)
    df = _local(spark, "string") if source == "local" else _rows(spark)
    hist = _hist(df.withColumn("v", F.col("v").cast("string")), [])
    out = bucketed_prefix_sums(hist, [], "v", ["f"], buckets=8)
    shape = _shape(out)
    assert "CartesianProduct" not in shape
    assert "BroadcastNestedLoopJoin" not in shape
    want = window_prefix_sums(hist, [], "v", ["f"])
    assert out.columns == want.columns
    assert sorted(out.collect()) == sorted(want.collect())


def test_ungrouped_numeric_prefix_of_unknown_size_broadcasts(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_REUSE_MIN_BYTES", raising=False)
    hist = _hist(_local(spark, "long"), [])
    out = bucketed_prefix_sums(hist, [], "v", ["f"], buckets=8)
    assert "SortMergeJoin" not in _shape(out)
    want = window_prefix_sums(hist, [], "v", ["f"])
    assert sorted(out.collect()) == sorted(want.collect())
