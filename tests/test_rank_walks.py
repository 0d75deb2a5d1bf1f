"""Plan shapes of the four bucketed walks in ``operators._ranks``.

All four run the same core (bucket map, per-bucket offsets, within-bucket
window, one join), so their physical plans are pinned here by node count:
a change to the shared core that adds an exchange, a window or a join
shows up in every walk that uses it. The ungrouped walk broadcasts its
offsets (at most ``buckets + 2`` rows) whatever the input's size
estimate, so an unknown-size input plans no sort-merge join and a
non-numeric value plans no cartesian product.

The two prefix walks pick their shape with ``_adaptive.summary_sized``;
each plan-shape test here pins the shape it checks by patching that gate,
so a Range input (known and tiny, which the real gate sends to plain
windows) still exercises the bucketed walk. A chained pass that reuses
its first pass's bucket ids gives the rows of a fresh bucketing, the ids
a pass keeps are monotone in value, and an external bucket id must be
non-NULL. On adversarial data (ties, NULL
group keys, NaN, one-row groups, forced bucket collisions) each walk
gives the rows of the window form it replaces, and a frequency-weighted
histogram ranks as its raw rows do. Prefix sums keep their value type
(decimal scale, fractional doubles, long counts), and the ungrouped row
numbers carry the total count as ``count_col``."""

from __future__ import annotations

import re
from collections import Counter
from decimal import Decimal

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from artigraph_spark.operators import _adaptive
from artigraph_spark.operators._ranks import (
    bucketed_group_row_numbers,
    bucketed_group_value_ranks,
    bucketed_prefix_sums,
    bucketed_row_numbers,
    ntile_from_rank,
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


def _pin(monkeypatch, window: bool):
    monkeypatch.delenv("SPARK_GRAFT_REUSE_MIN_BYTES", raising=False)
    monkeypatch.setattr(_adaptive, "summary_sized", lambda df: window)


@pytest.mark.parametrize("walk", sorted(_WALKS))
def test_walk_plan_shape(spark, monkeypatch, walk):
    _pin(monkeypatch, window=False)
    assert _shape(_WALKS[walk](_rows(spark))) == _SHAPES[walk]


# The window shape of the two gated walks: the histogram's exchange plus
# the window's own, and one Window node (the running sum and the total
# share one ordered spec) — no bucket map, no join.
_WINDOW_SHAPES = {
    "value_ranks": {"Exchange": 2, "Window": 1},
    "prefix_grouped": {"Exchange": 2, "Window": 1},
    "prefix_ungrouped": {"Exchange": 2, "Window": 1},
}


@pytest.mark.parametrize("walk", sorted(_WINDOW_SHAPES))
def test_window_shape_of_gated_walks(spark, monkeypatch, walk):
    _pin(monkeypatch, window=True)
    out = _WALKS[walk](_rows(spark))
    assert _shape(out) == _WINDOW_SHAPES[walk]
    # the real gate takes the same shape for this known, tiny input
    monkeypatch.undo()
    monkeypatch.delenv("SPARK_GRAFT_REUSE_MIN_BYTES", raising=False)
    assert _shape(_WALKS[walk](_rows(spark))) == _WINDOW_SHAPES[walk]


@pytest.mark.parametrize("window", [False, True])
def test_chained_pass_follows_first_pass_shape(spark, monkeypatch, window):
    hist = _hist(_rows(spark), ["g"])
    _pin(monkeypatch, window=window)
    p1 = bucketed_prefix_sums(hist, ["g"], "v", ["f"], buckets=8, keep_bucket="__kb")
    # the window shape keeps no bucket id, and pass 2 follows without
    # consulting the gate again
    assert ("__kb" in p1.columns) is not window
    monkeypatch.setattr(_adaptive, "summary_sized", lambda df: pytest.fail("gated"))
    seeded = p1.withColumn("f2", F.col("__pre_f") + F.col("f"))
    p2 = bucketed_prefix_sums(seeded, ["g"], "v", ["f2"], buckets=8, bucket_col="__kb")
    assert ("__bk" in str(p2._jdf.queryExecution().analyzed())) is not window
    want = window_prefix_sums(
        window_prefix_sums(hist, ["g"], "v", ["f"]).withColumn(
            "f2", F.col("__pre_f") + F.col("f")
        ),
        ["g"],
        "v",
        ["f2"],
    )
    cols = ["g", "v", "__pre_f", "__tot_f", "__pre_f2", "__tot_f2"]
    assert sorted(p2.select(cols).collect()) == sorted(want.select(cols).collect())


def test_prefix_sums_bucket_reuse_matches_fresh_bucketing(spark):
    rows = [("g%d" % (i % 3), i * 7 % 101, i % 5) for i in range(120)]
    hist = (
        spark.createDataFrame(rows, "g: string, v: long, m: long")
        .groupBy("g", "v")
        .agg(F.sum("m").alias("m"))
    )
    p1 = bucketed_prefix_sums(hist, ["g"], "v", ["m"], keep_bucket="__kb")
    seeded = p1.withColumn("m2", F.col("__pre_m") + F.col("m"))
    reused = bucketed_prefix_sums(seeded, ["g"], "v", ["m2"], bucket_col="__kb")
    fresh = bucketed_prefix_sums(
        seeded.drop("__kb"), ["g"], "v", ["m2"]
    )
    key = lambda r: (r["g"], r["v"])  # noqa: E731
    got = {key(r): (r["__pre_m2"], r["__tot_m2"]) for r in reused.collect()}
    want = {key(r): (r["__pre_m2"], r["__tot_m2"]) for r in fresh.collect()}
    assert got == want
    # the bucket column passes through under its kept name and is reusable
    assert "__kb" in p1.columns


def _local(spark, vtype):
    rows = [(i % 3, i * 37 % 101) for i in range(200)]
    df = spark.createDataFrame(rows, "g long, v long")
    return df.withColumn("v", F.col("v").cast(vtype))


@pytest.mark.parametrize("source", ["local", "range"])
def test_ungrouped_string_prefix_is_an_equi_join(spark, monkeypatch, source):
    _pin(monkeypatch, window=False)
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
    _pin(monkeypatch, window=False)
    hist = _hist(_local(spark, "long"), [])
    out = bucketed_prefix_sums(hist, [], "v", ["f"], buckets=8)
    assert "SortMergeJoin" not in _shape(out)
    want = window_prefix_sums(hist, [], "v", ["f"])
    assert sorted(out.collect()) == sorted(want.collect())


# --- external bucket ids ---


def test_prefix_sums_keep_bucket_ids_are_monotone_in_value(spark):
    from artigraph_spark.operators._ranks import bucketed_prefix_sums

    hist = (
        spark.createDataFrame([(i, 1) for i in range(50)], "v: long, m: long")
    )
    out = bucketed_prefix_sums(hist, [], "v", ["m"], keep_bucket="__kb").collect()
    seq = [r["__kb"] for r in sorted(out, key=lambda r: r["v"])]
    assert seq == sorted(seq)


def test_bucketed_prefix_sums_null_bucket_id_raises(spark):
    hist = spark.createDataFrame(
        [("g", 1.0, 2, 1), ("g", 2.0, 3, None)],
        "grp string, v double, n long, bk int",
    )
    out = bucketed_prefix_sums(
        hist, ["grp"], "v", ["n"], buckets=4, bucket_col="bk"
    )
    with pytest.raises(Exception, match="NULL bucket id"):
        out.collect()


def test_bucketed_prefix_sums_external_bucket_non_null_ok(spark):
    hist = spark.createDataFrame(
        [("g", 1.0, 2, 0), ("g", 2.0, 3, 1)],
        "grp string, v double, n long, bk int",
    )
    rows = (
        bucketed_prefix_sums(hist, ["grp"], "v", ["n"], buckets=4, bucket_col="bk")
        .orderBy("v")
        .collect()
    )
    assert [r["__pre_n"] for r in rows] == [0, 2]
    assert [r["__tot_n"] for r in rows] == [5, 5]


# --- rows against the window forms ---


def test_bucketed_group_value_ranks_equal_window_ranks(spark):
    # The bucketed two-phase prefix-sum rank must equal rank() over the
    # raw per-group window on adversarial data: ties, NULL group keys,
    # NaN values, single-element groups, few buckets (forced bucket
    # collisions), many buckets (mostly-empty buckets).

    rows = []
    vals = [1.0, 1.0, 2.5, 2.5, 2.5, -3.0, 0.0, 7.25, float("nan"), 7.25]
    for g in ["a", "b", None]:
        for i, v in enumerate(vals):
            rows.append((g, v, i))
    rows.append(("solo", 42.0, 99))
    df = spark.createDataFrame(rows, "g: string, v: double, id: bigint")

    w = Window.partitionBy("g").orderBy(F.col("v").asc_nulls_last())
    # canonicalize NaN for dict lookups (nan != nan in Python)
    ckey = lambda g, v: (g, "NaN" if v != v else v)  # noqa: E731
    want = {
        ckey(r["g"], r["v"]): r["rk"]
        for r in df.withColumn("rk", F.rank().over(w)).collect()
    }
    for buckets in (1, 3, 1024):
        got = bucketed_group_value_ranks(df, ["g"], "v", buckets=buckets)
        for r in got.collect():
            assert r["__rg"] == want[ckey(r["g"], r["__v"])], (buckets, r)
            expected_ng = 1 if r["g"] == "solo" else len(vals)
            assert r["__ng"] == expected_ng


def test_bucketed_row_numbers_and_ntile_match_window_forms(spark):
    rows = [(i, float((i * 37) % 13)) for i in range(47)]
    rows += [(100, None), (101, None)]  # null values
    df = spark.createDataFrame(rows, "uid: bigint, v: double")

    for desc in (False, True):
        order = [F.col("v").desc_nulls_last() if desc else F.col("v").asc_nulls_first(), F.col("uid")]
        w = Window.orderBy(*order)
        want = {
            r["uid"]: (r["rn"], r["t3"], r["t5"])
            for r in df.select(
                "uid",
                F.row_number().over(w).alias("rn"),
                F.ntile(3).over(w).alias("t3"),
                F.ntile(5).over(w).alias("t5"),
            ).collect()
        }
        got = bucketed_row_numbers(
            df, "v", ["uid"], descending=desc, buckets=7, out_col="rn"
        ).withColumn("n", F.lit(49).cast("long"))
        for r in got.select(
            "uid",
            "rn",
            ntile_from_rank("rn", "n", 3).alias("t3"),
            ntile_from_rank("rn", "n", 5).alias("t5"),
        ).collect():
            assert (r["rn"], r["t3"], r["t5"]) == want[r["uid"]], (desc, r)


def test_bucketed_prefix_sums_equal_window_prefix(spark):
    # The range-bucketed two-phase prefix must equal the raw cumulative
    # window over the histogram on adversarial data: NaN values (bucket
    # last), NULL group keys, multiple sum columns, empty group_cols
    # (global mode), non-numeric value column, forced bucket collisions.

    vals = [1.0, 2.5, -3.0, 0.0, 7.25, float("nan"), 42.0]
    rows = [(g, v, 2, 5) for g in ["a", "b", None] for v in vals]
    df = spark.createDataFrame(rows, "g: string, v: double, fa: bigint, fb: bigint")
    hist = df.groupBy("g", "v").agg(F.sum("fa").alias("fa"), F.sum("fb").alias("fb"))

    w = Window.partitionBy("g").orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        (r["g"], str(r["v"])): (r["pa"] or 0, r["pb"] or 0)
        for r in hist.select(
            "g", "v",
            F.sum("fa").over(w).alias("pa"), F.sum("fb").over(w).alias("pb"),
        ).collect()
    }
    for buckets in (1, 3, 1024):
        got = bucketed_prefix_sums(hist, ["g"], "v", ["fa", "fb"], buckets=buckets)
        for r in got.collect():
            assert (r["__pre_fa"], r["__pre_fb"]) == want[(r["g"], str(r["v"]))], (
                buckets, r,
            )
            assert r["__tot_fa"] == 2 * len(vals)
            assert r["__tot_fb"] == 5 * len(vals)

    # global mode (no group columns)
    ghist = df.groupBy("v").agg(F.sum("fa").alias("fa"))
    wg = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    wantg = {
        str(r["v"]): r["pa"] or 0
        for r in ghist.select("v", F.sum("fa").over(wg).alias("pa")).collect()
    }
    for r in bucketed_prefix_sums(ghist, [], "v", ["fa"], buckets=64).collect():
        assert r["__pre_fa"] == wantg[str(r["v"])], r
        assert r["__tot_fa"] == 6 * len(vals)

    # non-numeric value column degenerates to one bucket, still correct
    shist = spark.createDataFrame([("x", 1), ("y", 2), ("z", 4)], "v: string, f: bigint")
    got = {
        r["v"]: (r["__pre_f"], r["__tot_f"])
        for r in bucketed_prefix_sums(shist, [], "v", ["f"]).collect()
    }
    assert got == {"x": (0, 7), "y": (1, 7), "z": (3, 7)}


def test_group_value_ranks_freq_mode_equals_raw_mode(spark):
    # The frequency-weighted histogram input (freq_col) must produce the
    # SAME rank frame as feeding the raw rows — same adversarial data as
    # the r9 raw-mode property test (ties, NULL group, NaN, solo group,
    # forced bucket collisions).

    rows = []
    vals = [1.0, 1.0, 2.5, 2.5, 2.5, -3.0, 0.0, 7.25, float("nan"), 7.25]
    for g in ["a", "b", None]:
        for i, v in enumerate(vals):
            rows.append((g, v, i))
    rows.append(("solo", 42.0, 99))
    df = spark.createDataFrame(rows, "g: string, v: double, id: bigint")
    hist = df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("w"))

    ckey = lambda g, v: (g, "NaN" if v != v else v)  # noqa: E731
    for buckets in (1, 3, 1024):
        raw = {
            ckey(r["g"], r["__v"]): (r["__f"], r["__rg"], r["__ng"])
            for r in bucketed_group_value_ranks(
                df, ["g"], "v", buckets=buckets
            ).collect()
        }
        wtd = {
            ckey(r["g"], r["__v"]): (r["__f"], r["__rg"], r["__ng"])
            for r in bucketed_group_value_ranks(
                hist, ["g"], "v", buckets=buckets, freq_col="w"
            ).collect()
        }
        assert raw == wtd, buckets


def test_bucketed_prefix_sums_preserves_decimal_scale_and_values(spark):
    from artigraph_spark.operators._ranks import bucketed_prefix_sums

    rows = [(i, Decimal(f"{i}.00000000{i % 10}")) for i in range(1, 60)]
    df = spark.createDataFrame(rows, "v: int, m: decimal(38,9)")
    out = bucketed_prefix_sums(df, [], "v", ["m"], buckets=7)
    sch = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    # full scale 9 preserved on both the prefix and the total
    assert sch["__pre_m"] == "decimal(38,9)"
    assert sch["__tot_m"] == "decimal(38,9)"
    naive = {
        r["v"]: (r["p"], r["t"])
        for r in df.select(
            "v",
            F.coalesce(
                F.sum("m").over(
                    Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("p"),
            F.sum("m").over(Window.partitionBy()).alias("t"),
        ).collect()
    }
    for r in out.collect():
        p, t = naive[r["v"]]
        assert r["__pre_m"] == p and r["__tot_m"] == t


def test_bucketed_prefix_sums_double_not_truncated_to_long(spark):
    from artigraph_spark.operators._ranks import bucketed_prefix_sums

    # the r10 advice failure scenario: fractional masses silently
    # truncated to integers by the old hard long-cast
    rows = [(1, 0.25), (2, 0.25), (3, 0.25)]
    df = spark.createDataFrame(rows, "v: int, w: double")
    out = {r["v"]: (r["__pre_w"], r["__tot_w"]) for r in
           bucketed_prefix_sums(df, [], "v", ["w"], buckets=2).collect()}
    assert out[2] == (0.25, 0.75)
    assert out[3] == (0.5, 0.75)


def test_bucketed_prefix_sums_counts_still_long(spark):
    from artigraph_spark.operators._ranks import bucketed_prefix_sums

    df = spark.createDataFrame([(1, 2), (2, 3)], "v: int, f: int")
    out = bucketed_prefix_sums(df, [], "v", ["f"])
    sch = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert sch["__pre_f"] == "bigint" and sch["__tot_f"] == "bigint"


def test_bucketed_row_numbers_count_col_rides_offsets(spark):
    from artigraph_spark.operators._ranks import bucketed_row_numbers

    df = spark.createDataFrame([(i,) for i in range(37)], "v: int")
    out = bucketed_row_numbers(
        df, "v", [], out_col="rn", count_col="n", buckets=5
    ).collect()
    assert all(r["n"] == 37 for r in out)
    assert sorted(r["rn"] for r in out) == list(range(1, 38))
