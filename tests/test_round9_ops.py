"""Round-9 regression tests: the five r8-advice fixes.

Each test pins the FIXED behavior (raise/warn/uniform-hash) that the r8
advice flagged as silently wrong or needlessly strict.
"""

import pytest


def test_k_core_nonconvergence_raises_instead_of_wrong_members(spark):
    # A long path at k=2 peels exactly one layer (the two endpoints) per
    # round — with max_rounds too small the pre-fix code returned nodes
    # whose within-core degree is < k. Now it raises.
    from artigraph_spark.operators.graph import k_core

    edges = [(i, i + 1) for i in range(1, 12)]  # path 1-2-...-12
    df = spark.createDataFrame(edges, "s: bigint, d: bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(df, "s", "d", k=2, max_rounds=2)
    # with enough rounds the path peels to the (empty) fixpoint cleanly
    assert k_core(df, "s", "d", k=2, max_rounds=12).count() == 0
    # convergence on the final allowed round still succeeds (no raise):
    # 4-clique + pendant chain stabilizes in 3 rounds (peel 6, peel 5,
    # no-op confirm)
    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    cdf = spark.createDataFrame(clique, "s: bigint, d: bigint")
    out = {r["node"]: r["core_deg"] for r in k_core(cdf, "s", "d", k=2, max_rounds=3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_shortest_paths_weight_validation_messages(spark):
    from artigraph_spark.operators.graph import shortest_paths_bounded

    seeds = spark.createDataFrame([(1,)], "n: bigint")

    null_w = spark.createDataFrame(
        [(1, 2, None)], "s: bigint, d: bigint, w: bigint"
    )
    with pytest.raises(Exception, match="NULL or NaN weight"):
        shortest_paths_bounded(null_w, "s", "d", "w", seeds, max_hops=1).collect()

    nan_w = spark.createDataFrame(
        [(1, 2, float("nan"))], "s: bigint, d: bigint, w: double"
    )
    with pytest.raises(Exception, match="NULL or NaN weight"):
        shortest_paths_bounded(nan_w, "s", "d", "w", seeds, max_hops=1).collect()

    frac_w = spark.createDataFrame(
        [(1, 2, 2.5)], "s: bigint, d: bigint, w: double"
    )
    with pytest.raises(Exception, match="non-integral"):
        shortest_paths_bounded(frac_w, "s", "d", "w", seeds, max_hops=1).collect()

    # integral doubles are fine (2.0 == cast long 2)
    ok_w = spark.createDataFrame(
        [(1, 2, 2.0)], "s: bigint, d: bigint, w: double"
    )
    out = {r["node"]: r["dist"] for r in shortest_paths_bounded(
        ok_w, "s", "d", "w", seeds, max_hops=1
    ).collect()}
    assert out == {1: 0, 2: 2}


def test_bootstrap_ci_negative_keys_hash_uniformly(spark):
    # Pre-fix, Spark's dividend-signed % made (h % 100) negative for
    # negative keys, so every row passed the keep filter in EVERY
    # replicate — all replicate means equaled the full mean and the CI
    # collapsed to a point. pmod restores uniform membership.
    from pyspark.sql import functions as F

    from artigraph_spark.operators.quality import bootstrap_ci_mean

    rows = [(-(i + 1), float(i)) for i in range(200)]
    df = spark.createDataFrame(rows, "k: bigint, v: double")
    out = bootstrap_ci_mean(
        df, F.col("k"), "v", replicates=20, keep_pct=63, seed=1
    ).collect()[0]
    assert out["n_replicates"] == 20
    # replicate means actually vary -> a real interval, not a point
    assert out["ci_lo_r"] < out["ci_hi_r"]
    # and the interval brackets the full mean
    assert out["ci_lo_r"] <= out["mean_full_r"] <= out["ci_hi_r"]

    # parity: a mirrored positive-key frame keeps different subsets than
    # the negative-key frame (the hash whitens sign, not collapses it),
    # but both produce sane non-degenerate intervals
    pos = spark.createDataFrame(
        [(i + 1, float(i)) for i in range(200)], "k: bigint, v: double"
    )
    pout = bootstrap_ci_mean(
        pos, F.col("k"), "v", replicates=20, keep_pct=63, seed=1
    ).collect()[0]
    assert pout["ci_lo_r"] < pout["ci_hi_r"]


def test_bloom_build_unstampable_params_warns_not_raises(spark):
    # seed >= 2^20 is outside the sentinel packing range: previously
    # valid, r8 made it a hard build failure — now it builds a
    # legacy-style UNSTAMPED filter with a warning, and the probe side
    # accepts it (parameters unknowable, as documented).
    from artigraph_spark.operators.sketches import bloom_build, bloom_passing_keys

    df = spark.createDataFrame([(i,) for i in range(50)], "k: bigint")
    big_seed = 1 << 21
    with pytest.warns(UserWarning, match="UNSTAMPED"):
        bits = bloom_build(df, "k", num_bits=1 << 12, num_hashes=3, seed=big_seed)
    rows = bits.collect()
    assert all(r["bit"] >= 0 for r in rows)  # no sentinel row
    # probing with the same parameters admits every built key
    passed = bloom_passing_keys(
        df, "k", bits, num_bits=1 << 12, num_hashes=3, seed=big_seed
    )
    assert passed.count() == 50
    # stampable parameters still stamp (one negative sentinel row)
    stamped = bloom_build(df, "k", num_bits=1 << 12, num_hashes=3, seed=7)
    assert stamped.filter("bit < 0").count() == 1


def test_temperature_factor_frame_parity_with_dict(spark):
    # Same flattening arithmetic, distributed: the frame path must agree
    # with the driver-dict path on factors AND on the applied upsample
    # output, at both a metadata-sized and a wider domain cardinality.
    from pyspark.sql import functions as F

    from artigraph_spark.operators.packing import (
        temperature_factor_frame,
        temperature_factors,
        upsample_domains,
    )

    rows = (
        [("wiki", i) for i in range(4)]
        + [("cc", i) for i in range(64)]
        + [("code", i) for i in range(16)]
    )
    df = spark.createDataFrame(rows, "domain: string, id: bigint")
    want = temperature_factors(df, "domain", alpha=0.5)
    frame = temperature_factor_frame(df, "domain", alpha=0.5)
    got = {r["domain"]: r["factor"] for r in frame.collect()}
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-6)

    via_dict = upsample_domains(df, "domain", want, F.col("id")).collect()
    via_frame = upsample_domains(df, "domain", frame, F.col("id")).collect()
    key = lambda r: (r["domain"], r["id"], r["copy_idx"])  # noqa: E731
    assert sorted(map(key, via_frame)) == sorted(map(key, via_dict))

    # wider cardinality (hundreds of domains): frame path stays exact
    wide = spark.createDataFrame(
        [(f"d{i % 200}", i) for i in range(2000)], "domain: string, id: bigint"
    )
    wd = temperature_factors(wide, "domain", alpha=0.7, total_rows=4000)
    wf = {
        r["domain"]: r["factor"]
        for r in temperature_factor_frame(
            wide, "domain", alpha=0.7, total_rows=4000
        ).collect()
    }
    assert set(wf) == set(wd)
    for d in wd:
        assert wf[d] == pytest.approx(wd[d], rel=1e-6)


def test_upsample_domains_frame_rejects_negative_factor(spark):
    from pyspark.sql import functions as F

    from artigraph_spark.operators.packing import upsample_domains

    df = spark.createDataFrame([("a", 1)], "domain: string, id: bigint")
    bad = spark.createDataFrame([("a", -0.5)], "domain: string, factor: double")
    with pytest.raises(Exception, match="negative factor"):
        upsample_domains(df, "domain", bad, F.col("id")).collect()
