"""Round-8 operator unit tests: robust/rank statistics, bootstrap CI, CDC
time travel, record linkage, readability, HITS, and the DP release —
hand-computed expectations on tiny inputs plus contract/validation edges
(the oracle queries carry the at-scale parity). The Kaplan–Meier tests
live in test_survival.py."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_theil_sen_robust_to_outlier(spark):
    from artigraph_spark.operators.timeseries import theil_sen_slopes

    # perfect slope-2 line with one wild outlier; OLS would be dragged
    pts = [(float(x), 2.0 * x) for x in range(9)] + [(9.0, 1000.0)]
    df = spark.createDataFrame([("g", x, y) for x, y in pts], "g: string, x: double, y: double")
    row = theil_sen_slopes(df, "g", "x", "y").collect()[0]
    assert row["n_points"] == 10 and row["n_pairs"] == 45
    assert row["slope_r"] == pytest.approx(2.0, abs=1e-9)


def test_theil_sen_single_point_and_tied_x(spark):
    from artigraph_spark.operators.timeseries import theil_sen_slopes

    df = spark.createDataFrame(
        [("solo", 1.0, 5.0), ("tied", 1.0, 1.0), ("tied", 1.0, 9.0)],
        "g: string, x: double, y: double",
    )
    out = {r["g"]: r for r in theil_sen_slopes(df, "g", "x", "y").collect()}
    assert out["solo"]["slope_r"] is None and out["solo"]["n_pairs"] == 0
    # duplicate x pairs are excluded (division by zero guard)
    assert out["tied"]["slope_r"] is None and out["tied"]["n_pairs"] == 0


def test_mann_whitney_hand_computed(spark):
    from artigraph_spark.operators.quality import mann_whitney_u

    # A = [1, 2, 4], B = [3, 3]:
    # U_A = #(a>b) + 0.5*#(a==b) over 6 pairs = (0,0)+(0,0)+(1,1)... enumerate:
    # pairs (a,b): (1,3)x2 -> 0, (2,3)x2 -> 0, (4,3)x2 -> 2  => U_A = 2
    rows = [("A", 1.0), ("A", 2.0), ("A", 4.0), ("B", 3.0), ("B", 3.0)]
    df = spark.createDataFrame(rows, "g: string, v: double")
    r = mann_whitney_u(df, "g", "v", "A", "B").collect()[0]
    assert (r["n_a"], r["n_b"], r["u2_a"]) == (3, 2, 4)
    assert r["u_a_r"] == 2.0
    # tie group {3,3}: tie term = 2^3-2 = 6; var = (6/12)*((6) - 6/20) = 2.85
    mu, var = 3.0, (6 / 12.0) * (6.0 - 6.0 / 20.0)
    assert r["z_r"] == pytest.approx(round((2.0 - mu) / math.sqrt(var), 9))


def test_welch_ttest_hand_computed(spark):
    from artigraph_spark.operators.quality import welch_ttest

    rows = [("A", 1.0), ("A", 2.0), ("A", 3.0), ("B", 2.0), ("B", 4.0), ("B", 6.0)]
    df = spark.createDataFrame(rows, "g: string, v: double")
    r = welch_ttest(df, "g", "v", "A", "B").collect()[0]
    assert r["mean_a_r"] == pytest.approx(2.0, abs=1e-6)
    assert r["mean_b_r"] == pytest.approx(4.0, abs=1e-6)
    assert r["var_a_r"] == pytest.approx(1.0, abs=1e-4)
    assert r["var_b_r"] == pytest.approx(4.0, abs=1e-4)
    se2 = r["var_a_r"] / 3 + r["var_b_r"] / 3
    assert r["t_r"] == pytest.approx(round((2.0 - 4.0) / math.sqrt(se2), 9))
    # single-row group -> NULL t/df
    df2 = spark.createDataFrame([("A", 1.0), ("B", 2.0)], "g: string, v: double")
    r2 = welch_ttest(df2, "g", "v", "A", "B").collect()[0]
    assert r2["t_r"] is None and r2["df_r"] is None


def test_bootstrap_ci_partitioning_invariant_and_sane(spark):
    from artigraph_spark.operators.quality import bootstrap_ci_mean

    rows = [(i, float(i % 13)) for i in range(400)]
    df = spark.createDataFrame(rows, "k: bigint, v: double")
    r1 = bootstrap_ci_mean(df, F.col("k"), "v", replicates=20).collect()[0]
    r8 = bootstrap_ci_mean(df.repartition(8), F.col("k"), "v", replicates=20).collect()[0]
    assert tuple(r1) == tuple(r8)  # deterministic at any partitioning
    assert r1["n_replicates"] == 20
    assert r1["ci_lo_r"] <= r1["mean_full_r"] <= r1["ci_hi_r"]
    with pytest.raises(ValueError, match="replicates"):
        bootstrap_ci_mean(df, F.col("k"), "v", replicates=2)
    with pytest.raises(ValueError, match="keep_pct"):
        bootstrap_ci_mean(df, F.col("k"), "v", keep_pct=0)


def test_cdc_as_of_prefix_semantics(spark):
    from artigraph_spark.operators.quality import cdc_apply, cdc_as_of

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k: bigint, v: string")
    chg = spark.createDataFrame(
        [(1, "a2", 10, "U"), (2, None, 20, "D"), (3, "c", 30, "U")],
        "k: bigint, v: string, t: bigint, op: string",
    )
    # as-of t=15: only the first upsert applied
    got = {
        r["k"]: r["v"]
        for r in cdc_as_of(base, chg, "k", order_cols=["t"], as_of=F.lit(15)).collect()
    }
    assert got == {1: "a2", 2: "b"}
    # as-of the far future == full cdc_apply
    full = {r["k"]: r["v"] for r in cdc_apply(base, chg, "k", order_cols=["t"]).collect()}
    asof = {
        r["k"]: r["v"]
        for r in cdc_as_of(base, chg, "k", order_cols=["t"], as_of=F.lit(99)).collect()
    }
    assert asof == full == {1: "a2", 3: "c"}


def test_containment_asymmetry_vs_jaccard(spark):
    from artigraph_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id: bigint, text: string",
    )
    out = containment_pairs(
        df, "doc_id", "text", threshold=0.9, allow_quadratic=True
    ).collect()
    # doc 1 fully contained in doc 2: containment 1.0 (Jaccard would be 0.25)
    assert len(out) == 1 and out[0]["containment"] == 1.0
    with pytest.raises(ValueError, match="all-pairs"):
        containment_pairs(df, "doc_id", "text")


def test_fellegi_sunter_weights_and_decisions(spark):
    from artigraph_spark.operators.dedup import LinkageField, fellegi_sunter_scores

    fields = [LinkageField("f1", m=0.9, u=0.1), LinkageField("f2", m=0.8, u=0.2)]
    pairs = spark.createDataFrame(
        [(1, 2, True, True), (3, 4, False, False), (5, 6, True, None)],
        "a: bigint, b: bigint, g1: boolean, g2: boolean",
    )
    out = {
        (r["a"], r["b"]): r
        for r in fellegi_sunter_scores(
            pairs,
            {"f1": F.col("g1"), "f2": F.col("g2")},
            fields,
            upper=3.0,
            lower=0.0,
        ).collect()
    }
    w1a, w2a = math.log(0.9 / 0.1), math.log(0.8 / 0.2)
    w1d, w2d = math.log(0.1 / 0.9), math.log(0.2 / 0.8)
    assert out[(1, 2)]["score_r"] == pytest.approx(round(w1a + w2a, 9))
    assert out[(1, 2)]["decision"] == "match"
    assert out[(3, 4)]["score_r"] == pytest.approx(round(w1d + w2d, 9))
    assert out[(3, 4)]["decision"] == "non_match"
    # NULL agreement is neutral (contributes 0)
    assert out[(5, 6)]["score_r"] == pytest.approx(round(w1a, 9))
    with pytest.raises(ValueError, match="lacks fields"):
        fellegi_sunter_scores(pairs, {"f1": F.col("g1")}, fields, upper=1, lower=0)
    with pytest.raises(ValueError, match="needs 0 < u < m < 1"):
        fellegi_sunter_scores(
            pairs,
            {"f1": F.col("g1"), "f2": F.col("g2")},
            [LinkageField("f1", m=0.1, u=0.9), fields[1]],
            upper=1,
            lower=0,
        )


def test_readability_hand_computed(spark):
    from artigraph_spark.operators.text import readability_scores

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!"), (2, "12345 !!!")],
        "doc_id: bigint, text: string",
    )
    out = {r["doc_id"]: r for r in readability_scores(df, "doc_id", "text").collect()}
    r = out[1]
    assert (r["n_words"], r["n_sentences"]) == (6, 2)
    # vowel groups: e,a,a,e,o,a -> 6 (>= words floor keeps 6)
    assert r["n_syllables"] == 6
    flesch = round(206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6), 9)
    assert r["flesch_r"] == pytest.approx(flesch)
    # zero-word doc: NULL scores, sentence floor at 1
    assert out[2]["n_words"] == 0 and out[2]["flesch_r"] is None
    assert out[2]["n_sentences"] == 1


def test_hits_star_graph_ranks_center_top(spark):
    from artigraph_spark.operators.graph import hits

    # all spokes point at the center: center is the sole top authority,
    # every spoke an equal top hub
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 5)] + [(1, 9)], "s: bigint, d: bigint"
    )
    out = hits(edges, "s", "d", iterations=3, bits=20)
    rows = {(r["role"], r["node"]): r["score_fx"] for r in out.collect()}
    one = 1 << 20
    assert rows[("auth", 0)] == one
    assert rows[("auth", 9)] < one
    assert rows[("hub", 1)] == one  # points at center AND the extra node
    for n in (2, 3, 4):
        assert rows[("hub", n)] <= one
    with pytest.raises(ValueError, match="iterations"):
        hits(edges, "s", "d", iterations=0)


def test_pseudo_dp_noisy_counts_deterministic_and_bounded(spark):
    from artigraph_spark.operators.privacy import pseudo_dp_noisy_counts

    df = spark.createDataFrame(
        [("x",)] * 10 + [("y",)] * 5, "c: string"
    )
    eps = 0.5
    out1 = {
        r["c"]: r
        for r in pseudo_dp_noisy_counts(df, "c", epsilon=eps, seed=3).collect()
    }
    out2 = {
        r["c"]: r
        for r in pseudo_dp_noisy_counts(df, "c", epsilon=eps, seed=3).collect()
    }
    assert {k: tuple(v) for k, v in out1.items()} == {
        k: tuple(v) for k, v in out2.items()
    }  # re-run replays the SAME release
    b = 1.0 / eps
    for r in out1.values():
        assert abs(r["noise_r"]) <= b * math.log(1000000007.0)
        assert r["noisy_n_r"] == pytest.approx(r["n"] + r["noise_r"])
    # a different seed draws different noise
    out3 = {
        r["c"]: r
        for r in pseudo_dp_noisy_counts(df, "c", epsilon=eps, seed=4).collect()
    }
    assert any(out3[k]["noise_r"] != out1[k]["noise_r"] for k in out1)
    with pytest.raises(ValueError, match="epsilon"):
        pseudo_dp_noisy_counts(df, "c", epsilon=0.0)


def test_dp_noisy_counts_legacy_alias_warns(spark):
    from artigraph_spark.operators.privacy import (
        dp_noisy_counts,
        pseudo_dp_noisy_counts,
    )

    df = spark.createDataFrame([("x",)] * 3, "c: string")
    with pytest.warns(DeprecationWarning, match="pseudo_dp_noisy_counts"):
        legacy = dp_noisy_counts(df, "c", epsilon=0.5, seed=3).collect()
    current = pseudo_dp_noisy_counts(df, "c", epsilon=0.5, seed=3).collect()
    assert [tuple(r) for r in legacy] == [tuple(r) for r in current]


def test_pca_top_component_recovers_dominant_direction(spark):
    from artigraph_spark.operators.similarity import pca_top_component

    # variance concentrated on dim 1 (values ±2), tiny noise on dim 2:
    # the top component must load ~fully on dim 1
    rows = [
        (i, [2.0 if i % 2 == 0 else -2.0, 0.01 * (i % 3), 0.0])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    out = {r["dim"]: r["loading_fx"] for r in pca_top_component(df, iterations=8).collect()}
    one = 1 << 20
    assert abs(out[1]) == one  # dominant dim carries the max loading
    assert abs(out[2]) < one // 10 and abs(out[3]) < one // 10
    with pytest.raises(ValueError, match="iterations"):
        pca_top_component(df, iterations=0)


def test_pca_partitioning_invariant(spark):
    from artigraph_spark.operators.similarity import pca_top_component

    rows = [
        (i, [float((i * 7) % 5) - 2.0, float((i * 3) % 4), float(i % 2)])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    a = sorted(tuple(r) for r in pca_top_component(df, iterations=5).collect())
    b = sorted(
        tuple(r) for r in pca_top_component(df.repartition(7), iterations=5).collect()
    )
    assert a == b


def test_k_core_peels_to_stable_core(spark):
    from artigraph_spark.operators.graph import k_core

    # a 4-clique (1..4) with a pendant chain 4-5-6: 2-core = the clique
    # plus nothing else (5 and 6 peel; peeling 6 drops 5 next round)
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "s: bigint, d: bigint")
    out = {r["node"]: r["core_deg"] for r in k_core(df, "s", "d", k=2).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    # k=4 peels everything (max degree in the 4-clique is 3)
    assert k_core(df, "s", "d", k=4).count() == 0
    with pytest.raises(ValueError, match="k must be"):
        k_core(df, "s", "d", k=0)


def test_bigram_logprob_orders_garble_above_prose(spark):
    from artigraph_spark.operators.text import bigram_logprob_scores

    common = "the cat sat on the mat"
    docs = [(i, common) for i in range(8)]
    docs.append((100, "mat the on sat cat the"))  # same unigrams, shuffled order
    df = spark.createDataFrame(docs, "doc_id: bigint, text: string")
    out = {r["doc_id"]: r for r in bigram_logprob_scores(df, "doc_id", "text").collect()}
    # unigram stats can't separate these; bigram NLL must
    assert out[100]["nll"] > out[0]["nll"]
    assert out[0]["n_bigrams"] == 5
    # single-token doc excluded
    df2 = spark.createDataFrame([(1, "word"), (2, "two words")], "doc_id: bigint, text: string")
    got = {r["doc_id"] for r in bigram_logprob_scores(df2, "doc_id", "text").collect()}
    assert got == {2}


def test_markov_stationary_absorbing_state(spark):
    from artigraph_spark.operators.timeseries import markov_stationary

    # b is absorbing (b->b always); a->b always: all mass ends in b
    rows = []
    for u in range(3):
        for t, s in enumerate(["a", "b", "b", "b", "b"]):
            rows.append((u, t, s, u * 10 + t))
    df = spark.createDataFrame(rows, "u: bigint, ts: bigint, s: string, id: bigint")
    out = {r["state"]: r["pi_fx"] for r in markov_stationary(
        df, "u", "ts", "s", "id", iterations=12, bits=20
    ).collect()}
    one = 1 << 20
    assert out["b"] > 0.99 * one and out.get("a", 0) == 0
    with pytest.raises(ValueError, match="iterations"):
        markov_stationary(df, "u", "ts", "s", "id", iterations=0)


def test_quantile_normalize_maps_groups_onto_global(spark):
    from artigraph_spark.operators.quality import quantile_normalize

    # group g1 = {1,2}, g2 = {10,20}; global sorted = [1,2,10,20]
    # g1 rank 1/2 -> global ranks ceil(1*4/2)=2 -> 2, ceil(2*4/2)=4 -> 20
    rows = [("g1", 1.0), ("g1", 2.0), ("g2", 10.0), ("g2", 20.0), ("g2", None)]
    df = spark.createDataFrame(rows, "g: string, v: double")
    out = {(r["g"], r["v"]): r["qn_value"] for r in quantile_normalize(df, "g", "v").collect()}
    assert out[("g1", 1.0)] == 2.0
    assert out[("g1", 2.0)] == 20.0
    # g2 rank 1/2 of 2 -> same mapping positions
    assert out[("g2", 10.0)] == 2.0
    assert out[("g2", 20.0)] == 20.0
    assert out[("g2", None)] is None  # NULL passes through


def test_pca_project_scores_align_with_dominant_dim(spark):
    from artigraph_spark.operators.similarity import pca_project

    rows = [(i, [4.0 if i % 2 == 0 else -4.0, 0.01 * (i % 3)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    out = {r["vec_id"]: r["proj_fx"] for r in pca_project(df, iterations=6).collect()}
    evens = [out[i] for i in range(0, 20, 2)]
    odds = [out[i] for i in range(1, 20, 2)]
    # the two clusters sit on opposite sides of the component
    assert (max(evens) < 0 < min(odds)) or (max(odds) < 0 < min(evens))


def test_shortest_paths_bounded_weighted(spark):
    from artigraph_spark.operators.graph import shortest_paths_bounded

    # 1->2 (w 10), 2->3 (w 10), 1->3 (w 25): 2 hops beat the direct edge
    edges = spark.createDataFrame(
        [(1, 2, 10), (2, 3, 10), (1, 3, 25), (3, 4, 1)],
        "s: bigint, d: bigint, w: bigint",
    )
    seeds = spark.createDataFrame([(1,)], "n: bigint")
    out = {r["node"]: r["dist"] for r in shortest_paths_bounded(
        edges, "s", "d", "w", seeds, max_hops=3
    ).collect()}
    assert out == {1: 0, 2: 10, 3: 20, 4: 21}
    # hop bound is semantics: with 1 hop the direct edge wins
    one_hop = {r["node"]: r["dist"] for r in shortest_paths_bounded(
        edges, "s", "d", "w", seeds, max_hops=1
    ).collect()}
    assert one_hop[3] == 25
    import pytest as _pytest

    neg = spark.createDataFrame([(1, 2, -1)], "s: bigint, d: bigint, w: bigint")
    with _pytest.raises(Exception, match="negative weight"):
        shortest_paths_bounded(neg, "s", "d", "w", seeds, max_hops=1).collect()


def test_rrf_fusion_prefers_items_on_both_lists(spark):
    from artigraph_spark.operators.similarity import reciprocal_rank_fusion

    a = spark.createDataFrame(
        [(1, "x", 1), (1, "y", 2), (1, "z", 3)], "query_id: bigint, neighbor_id: string, rank: int"
    )
    b = spark.createDataFrame(
        [(1, "y", 1), (1, "w", 2)], "query_id: bigint, neighbor_id: string, rank: int"
    )
    out = {r["neighbor_id"]: r for r in reciprocal_rank_fusion([a, b], top_k=4).collect()}
    # y is on both lists: 1/62 + 1/61 beats x's 1/61 alone
    assert out["y"]["fused_rank"] == 1
    assert out["x"]["fused_rank"] == 2
    assert out["y"]["rrf_r"] == pytest.approx(
        round(round(1 / 62, 9) + round(1 / 61, 9), 9), abs=2e-6
    )
    with pytest.raises(ValueError, match="at least one"):
        reciprocal_rank_fusion([])


def test_l2_vs_cosine_rankings_disagree_on_norms(spark):
    from artigraph_spark.operators.similarity import (
        cosine_topk_bruteforce,
        l2_topk_quantized,
    )

    # neighbor 10 points the same direction as the query but far away;
    # neighbor 11 is nearby but less aligned: cosine picks 10, L2 picks 11
    rows = [
        (0, [1.0, 0.0]),
        (10, [10.0, 0.0]),
        (11, [0.9, 0.4]),
    ]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    q = df.filter(F.col("vec_id") == 0)
    cos1 = cosine_topk_bruteforce(df, q, k=1).collect()[0]["neighbor_id"]
    l21 = l2_topk_quantized(df, q, k=1).collect()[0]["neighbor_id"]
    assert cos1 == 10 and l21 == 11


def test_nan_values_excluded_like_null_across_r8_stats(spark):
    """NaN must behave like NULL in every r8 numeric operator: before the
    guards, fxp(NaN) silently vanished from the SUMS while F.count still
    counted the row — a wrong mean with no error."""
    from artigraph_spark.operators.quality import (
        bootstrap_ci_mean,
        mann_whitney_u,
        quantile_normalize,
        welch_ttest,
    )

    nan = float("nan")
    df = spark.createDataFrame(
        [("A", 1.0), ("A", nan), ("A", 3.0), ("B", 2.0), ("B", 4.0)],
        "g: string, v: double",
    )
    w = welch_ttest(df, "g", "v", "A", "B").collect()[0]
    assert w["n_a"] == 2 and w["mean_a_r"] == pytest.approx(2.0, abs=1e-6)
    m = mann_whitney_u(df, "g", "v", "A", "B").collect()[0]
    assert (m["n_a"], m["n_b"]) == (2, 2)
    kdf = df.select(F.monotonically_increasing_id().alias("k"), "v")
    b = bootstrap_ci_mean(kdf, F.col("k"), "v", replicates=3).collect()[0]
    assert b["mean_full_r"] == pytest.approx(2.5, abs=1e-6)  # (1+3+2+4)/4
    qn = {
        (r["g"], str(r["v"])): r["qn_value"]
        for r in quantile_normalize(df, "g", "v").collect()
    }
    assert qn[("A", "nan")] is None  # NaN row passes through with NULL
    assert qn[("A", "1.0")] is not None


def test_lorenz_points_hand_computed(spark):
    from artigraph_spark.operators.quality import lorenz_points

    # one group, values 1..4, 2 buckets: bottom half holds (1+2)/10
    df = spark.createDataFrame(
        [("g", float(v)) for v in (1, 2, 3, 4)], "g: string, v: double"
    )
    out = {r["bucket"]: r for r in lorenz_points(df, "g", "v", buckets=2).collect()}
    assert out[1]["pop_share_r"] == 0.5
    assert out[1]["value_share_r"] == pytest.approx(0.3)
    assert out[2]["pop_share_r"] == 1.0 and out[2]["value_share_r"] == pytest.approx(1.0)
    # zero-total group: shares NULL instead of an ANSI divide-by-zero
    z = spark.createDataFrame([("z", 0.0), ("z", 0.0)], "g: string, v: double")
    zo = lorenz_points(z, "g", "v", buckets=2).collect()
    assert all(r["value_share_r"] is None for r in zo)
    with pytest.raises(ValueError, match="buckets"):
        lorenz_points(df, "g", "v", buckets=1)


def test_pca_explained_fraction_bounds_and_collapse(spark):
    from artigraph_spark.operators.similarity import pca_explained

    # perfectly one-dimensional corpus: every vector fully explained
    rows = [(i, [float(2 * (i % 5) - 4), 0.0, 0.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id: bigint, embedding: array<float>")
    out = [r["frac_explained_r"] for r in pca_explained(df, iterations=6).collect()]
    assert all(f is None or 0.0 <= f <= 1.0 for f in out)
    explained = [f for f in out if f is not None]
    assert explained and min(explained) > 0.999
