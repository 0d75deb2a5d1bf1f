"""Round-10 regression tests: the r9 verdict/advice follow-ups.

Each test pins a behavior added or fixed in round 10 (k-core
convergence within max_rounds, twap zero-span guard lives in
test_exactstats, spearman quantized variant, …).
"""

import pytest


def test_k_core_until_convergence_escape(spark):
    # The r9 fix correctly raises when max_rounds is exhausted mid-peel;
    # every non-converged round removes >= 1 edge, so max_rounds equal to
    # the edge count always reaches the fixed point.
    from artigraph_spark.operators.graph import k_core

    edges = [(i, i + 1) for i in range(1, 12)]  # path 1-2-...-12
    df = spark.createDataFrame(edges, "s: bigint, d: bigint")
    # default still raises (the r9 contract, unchanged)
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(df, "s", "d", k=2, max_rounds=2)
    # enough rounds: converges to the (empty) fixpoint instead of raising
    assert k_core(df, "s", "d", k=2, max_rounds=len(edges)).count() == 0
    # deep peel with a surviving core: pendant path feeding a 4-clique
    deep = [(10 + i, 11 + i) for i in range(8)] + [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 10),
    ]
    ddf = spark.createDataFrame(deep, "s: bigint, d: bigint")
    out = {
        r["node"]: r["core_deg"]
        for r in k_core(ddf, "s", "d", k=2, max_rounds=len(deep)).collect()
    }
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_spearman_quantized_grid(spark):
    # Quantization snaps x to floor(x * 2^bits): on data already on the
    # grid the statistic is unchanged; off-grid values that share a cell
    # collapse to tied (cell-averaged) ranks — hand-checkable n=4 case.
    from artigraph_spark.operators.orderstats import spearman_corr

    on_grid = spark.createDataFrame(
        [(16.0, 1.0), (32.0, 2.0), (48.0, 3.0), (64.0, 4.0)], "x: double, y: double"
    )
    exact = spearman_corr(on_grid, "x", "y").collect()[0]
    quant = spearman_corr(on_grid, "x", "y", x_quantize_bits=-4).collect()[0]
    assert exact["rho_r"] == quant["rho_r"] == 1.0
    # 17.0 and 18.0 land in cell 1 (floor(v/16)) -> tied ranks; scipy
    # spearmanr([1,1,2,3],[1,2,3,4]) = 0.9486832980505138
    off_grid = spark.createDataFrame(
        [(17.0, 1.0), (18.0, 2.0), (33.0, 3.0), (49.0, 4.0)], "x: double, y: double"
    )
    q = spearman_corr(off_grid, "x", "y", x_quantize_bits=-4).collect()[0]
    assert q["n"] == 4
    assert q["rho_r"] == pytest.approx(0.948683298, abs=1e-9)
    # and exact mode on the same data stays a perfect monotone 1.0
    assert spearman_corr(off_grid, "x", "y").collect()[0]["rho_r"] == 1.0






def test_gini_histogram_form_equals_window_form(spark):
    # The r10 rank-histogram Σi·x must equal the naive per-group
    # row_number window form on tie-heavy, tiny, and negative-free data
    # (gini contract: non-negative values; ties make row order arbitrary
    # but Σi·x permutation-invariant).
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from artigraph_spark.functions import fxp
    from artigraph_spark.operators.quality import gini_by_group

    rows = []
    vals = [0.0, 1.5, 1.5, 1.5, 2.25, 7.0, 7.0, 100.0]
    for g in ["a", "b"]:
        rows.append((g, None))
        for v in vals:
            rows.append((g, v))
    rows.append(("solo", 5.0))  # single unit -> gini 0 (num = 2*1*x - 2*x)
    df = spark.createDataFrame(rows, "g: string, v: double")

    w = Window.partitionBy("g").orderBy("__x")
    clean = df.filter(F.col("v").isNotNull()).select(
        "g", fxp(F.col("v"), 20).alias("__x")
    )
    naive = (
        clean.withColumn("__i", F.row_number().over(w).cast("long"))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("__x").cast("decimal(38,0)")).alias("sx"),
            F.sum(
                F.col("__x").cast("decimal(38,0)") * F.col("__i")
            ).alias("six"),
        )
        .select(
            "g",
            "n",
            (
                (2 * F.col("six") - (F.col("n").cast("decimal(38,0)") + 1) * F.col("sx"))
                .cast("double")
                / (F.col("n").cast("decimal(38,0)") * F.col("sx")).cast("double")
            ).alias("gini_r"),
        )
    )
    want = {r["g"]: (r["n"], r["gini_r"]) for r in naive.collect()}
    got = {r["g"]: (r["n"], r["gini_r"]) for r in gini_by_group(df, "g", "v").collect()}
    assert set(got) == set(want)
    for g in want:
        assert got[g][0] == want[g][0], g
        assert got[g][1] == pytest.approx(want[g][1], abs=1e-12), g
    assert got["solo"][1] == 0.0


def test_lorenz_run_decile_overlap_equals_row_form(spark):
    # The rank-run x decile-interval overlap must reproduce the naive
    # per-unit row_number bucketing exactly, including tiny groups
    # (n < buckets), heavy ties straddling decile boundaries, and
    # negative values.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from artigraph_spark.operators.quality import lorenz_points

    rows = [("t", float(v)) for v in [5, 7, 9]]  # n=3 < buckets=10
    rows += [("h", float(v)) for v in [1] * 7 + [2] * 9 + [-3] * 4 + [10] * 5]
    df = spark.createDataFrame(rows, "g: string, v: double")

    got = {
        (r["g"], r["bucket"]): (r["n_units"], r["pop_share_r"], r["value_share_r"])
        for r in lorenz_points(df, "g", "v", buckets=10).collect()
    }
    # naive reference: rank every unit, bucket = ceil(10*r/n)
    w = Window.partitionBy("g").orderBy("__vfx")
    from artigraph_spark.functions import fxp

    naive = (
        df.select("g", fxp(F.col("v"), 20).alias("__vfx"))
        .withColumn("__r", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("g")))
        .withColumn("__b", F.expr("(10 * __r + __n - 1) div __n"))
        .groupBy("g", "__b")
        .agg(F.count(F.lit(1)).alias("nu"), F.sum("__vfx").alias("bs"))
    ).collect()
    per = {}
    for r in naive:
        per.setdefault(r["g"], []).append((r["__b"], r["nu"], r["bs"]))
    for g, lst in per.items():
        lst.sort()
        n = sum(nu for _, nu, _ in lst)
        tot = sum(bs for _, _, bs in lst)
        cu = cv = 0
        for b, nu, bs in lst:
            cu += nu
            cv += bs
            gu, gp, gv = got[(g, b)]
            assert gu == nu, (g, b)
            assert gp == pytest.approx(cu / n, abs=1e-9), (g, b)
            assert gv == pytest.approx(cv / tot, abs=1e-9), (g, b)


def test_stratified_family_equals_window_forms(spark):
    # split / kfold / curriculum / epoch_shuffle must reproduce their
    # pre-r10 naive window forms row-for-row (the rewrites changed the
    # plan shape only). Adversarial bits: NULL stratum, tiny strata,
    # duplicate scores (id tiebreak).
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from artigraph_spark.operators.packing import (
        _mul_hash,
        curriculum_stages,
        epoch_shuffle,
        kfold_assign,
        stratified_split_exact,
    )

    rows = [(i, ["x", "y", None][i % 3], float(i % 5)) for i in range(1, 61)]
    rows += [(100, "tiny", 1.0), (101, "tiny", 1.0)]
    df = spark.createDataFrame(rows, "id: bigint, g: string, s: double")

    # split
    got = {
        r["id"]: r["split"]
        for r in stratified_split_exact(df, "g", F.col("id")).collect()
    }
    h = _mul_hash(F.col("id"))
    w = Window.partitionBy("g").orderBy(h, F.col("id"))
    naive = df.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    exp = {}
    for r in naive.collect():
        n, rn = r["__n"], r["__rn"]
        if rn <= (800000 * n + 999999) // 1000000:
            exp[r["id"]] = "train"
        elif rn <= (900000 * n + 999999) // 1000000:
            exp[r["id"]] = "valid"
        else:
            exp[r["id"]] = "test"
    assert got == exp

    # kfold
    got = {r["id"]: r["fold"] for r in kfold_assign(df, "g", "id", n_folds=4).collect()}
    wk = Window.partitionBy("g").orderBy("id")
    exp = {
        r["id"]: (r["rn"] - 1) % 4
        for r in df.withColumn("rn", F.row_number().over(wk)).collect()
    }
    assert got == exp

    # curriculum (stratum + global) vs raw ntile
    for part in (["g"], []):
        wc = Window.partitionBy(*part).orderBy(F.col("s").asc(), F.col("id").asc())
        exp = {
            r["id"]: r["st"]
            for r in df.withColumn("st", F.ntile(3).over(wc)).collect()
        }
        got = {
            r["id"]: r["stage"]
            for r in curriculum_stages(
                df, F.col("s"), "id", stratum_col=part[0] if part else None, n_stages=3
            ).collect()
        }
        assert got == exp, part

    # epoch shuffle vs raw window
    got = {
        r["id"]: (r["shard"], r["pos"])
        for r in epoch_shuffle(df, F.col("id"), n_shards=4, epoch=2).collect()
    }
    p = 1_000_000_007
    mixed = _mul_hash(F.pmod(F.col("id").cast("long"), F.lit(p)) + (2 * 2_147_483_629) % p)
    shard = F.pmod(mixed, F.lit(4))
    we = Window.partitionBy(shard).orderBy(mixed, F.col("id"))
    exp = {
        r["id"]: (r["shard"], r["pos"])
        for r in df.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(we))
        .collect()
    }
    assert got == exp
