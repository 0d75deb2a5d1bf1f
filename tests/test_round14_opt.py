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


def test_set_similarity_capped_path_matches_brute_force(spark):
    """r14: pins the capped-path contract while enumeration strategies
    are A/B'd (a posting-list expansion was measured and reverted this
    round) — the emitted (a, b, sizes, overlap, jaccard) rows must equal
    the brute force computed under the same cap semantics (hot members
    excluded from pairs AND sizes, min_overlap applied before the
    threshold)."""
    import itertools
    import random

    from artigraph_spark.operators.similarity import set_similarity_pairs

    rng = random.Random(1405)
    rows = sorted(
        {
            (f"s{rng.randrange(30)}", f"m{rng.randrange(40)}")
            for _ in range(400)
        }
    )
    cap, min_ov, thr = 5, 2, 0.05
    df_by_m = {}
    for s, m in rows:
        df_by_m.setdefault(m, set()).add(s)
    kept = {m for m, ss in df_by_m.items() if len(ss) <= cap}
    sets = {}
    for s, m in rows:
        if m in kept:
            sets.setdefault(s, set()).add(m)
    expect = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        ov = len(sets[a] & sets[b])
        if ov >= min_ov:
            jac = round(ov / (len(sets[a]) + len(sets[b]) - ov), 9)
            if jac >= thr:
                expect[(a, b)] = (len(sets[a]), len(sets[b]), ov, jac)
    out = set_similarity_pairs(
        spark.createDataFrame(rows, "s: string, m: string"),
        "s",
        "m",
        threshold=thr,
        max_member_df=cap,
        min_overlap=min_ov,
    )
    got = {
        (r["a"], r["b"]): (
            r["size_a"],
            r["size_b"],
            r["overlap"],
            r["jaccard_r"],
        )
        for r in out.collect()
    }
    assert got == expect
