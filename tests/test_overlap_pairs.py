"""The member-keyed pair count (``operators.similarity.overlap_pairs``)
and the operators built on it: set similarity, basket support pairs and
association rules — hand-computed cases, a capped-path brute force, and a
property test of the primitive against ``itertools.combinations``."""

from __future__ import annotations

import itertools

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st


def test_set_similarity_hand_computed_and_hot_member_cap(spark):
    from artigraph_spark.operators.similarity import set_similarity_pairs

    rows = (
        [("u1", m) for m in ["a", "b", "c"]]
        + [("u2", m) for m in ["a", "b", "d"]]
        + [("u3", m) for m in ["e", "f"]]
        # 'hot' is in every set
        + [("u1", "hot"), ("u2", "hot"), ("u3", "hot")]
    )
    df = spark.createDataFrame(rows, "s: string, m: string")
    out = set_similarity_pairs(df, "s", "m", threshold=0.1, max_member_df=2)
    got = {(r["a"], r["b"]): r for r in out.collect()}
    # 'hot' excluded from pairs AND sizes: u1∩u2 = {a,b}, sizes 3,3 -> J = 2/4
    assert got[("u1", "u2")]["jaccard_r"] == pytest.approx(0.5)
    assert got[("u1", "u2")]["size_a"] == 3  # not 4
    assert ("u1", "u3") not in got  # only shared member was the capped one
    # without the cap the hot member links everyone
    all_pairs = set_similarity_pairs(df, "s", "m", threshold=0.01).collect()
    assert len(all_pairs) == 3


def test_association_rules_direction_and_conviction(spark):
    from artigraph_spark.operators.graph import association_rules

    # x appears in 4 baskets, y in 2 — both y-baskets contain x:
    # y->x has confidence 1.0 (conviction NULL); x->y confidence 0.5
    rows = [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (4, "x")]
    df = spark.createDataFrame(rows, "b: bigint, i: string")
    out = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules(df, "b", "i", min_pair_cnt=1, top_k=10).collect()
    }
    yx = out[("y", "x")]
    assert yx["confidence_r"] == 1.0 and yx["conviction_r"] is None
    xy = out[("x", "y")]
    assert xy["confidence_r"] == 0.5
    assert xy["support_r"] == 0.5  # 2 of 4 baskets
    # conviction x->y = (1 - 2/4) / (1 - 0.5) = 1.0 (independence)
    assert xy["conviction_r"] == pytest.approx(1.0)
    assert xy["lift_r"] == pytest.approx(1.0)  # 2*4/(4*2)


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


def test_support_pairs_counts_and_lift(spark):
    from artigraph_spark.operators.graph import support_pairs

    # baskets: {1,2,3}, {1,2}, {2,3}, {4}; duplicate item in a basket
    rows = [
        (10, 1), (10, 2), (10, 3), (10, 2),
        (11, 1), (11, 2),
        (12, 2), (12, 3),
        (13, 4),
    ]
    df = spark.createDataFrame(rows, ["b", "i"])
    got = {(r["item_a"], r["item_b"]): r
           for r in support_pairs(df, "b", "i", top_k=10).collect()}
    assert got[(1, 2)]["pair_cnt"] == 2
    assert got[(2, 3)]["pair_cnt"] == 2
    assert got[(1, 3)]["pair_cnt"] == 1
    # lift(1,2) = 2 * 4 baskets / (2 * 3)
    assert abs(got[(1, 2)]["lift_r"] - 2 * 4 / (2 * 3)) < 1e-5
    assert (2, 1) not in got  # each pair once, a < b

    import pytest as _pytest

    with _pytest.raises(ValueError, match="top_k"):
        support_pairs(df, "b", "i", top_k=0)


@st.composite
def set_members(draw):
    """(set, member) rows: up to six sets over members 0-7 whose sizes
    run from empty to all eight (skewed), plus random rows with NULL sets
    and members, and repeated rows."""
    sizes = draw(st.lists(st.sampled_from([0, 1, 2, 4, 6, 7, 8]), min_size=2, max_size=6))
    rows = [(s, m) for s, k in enumerate(sizes) for m in draw(st.permutations(range(8)))[:k]]
    maybe = lambda hi: st.one_of(st.none(), st.integers(0, hi))  # noqa: E731
    rows += draw(st.lists(st.tuples(maybe(5), maybe(7)), max_size=8))
    return rows + rows[: draw(st.integers(0, 4))]


@settings(max_examples=25, deadline=None)
@given(set_members(), st.integers(min_value=1, max_value=6))
@example(rows=[], min_overlap=1)
def test_overlap_pairs_matches_brute_force(spark, rows, min_overlap):
    from artigraph_spark.operators.similarity import overlap_pairs

    members = spark.createDataFrame(rows, "s int, m int").distinct()
    out = overlap_pairs(members, "s", "m", min_overlap).collect()
    assert all(r["a"] < r["b"] for r in out)
    got = {(r["a"], r["b"]): r["overlap"] for r in out}
    assert len(got) == len(out)  # each pair once
    sets = {}
    for s, m in rows:
        if s is not None and m is not None:
            sets.setdefault(s, set()).add(m)
    expect = {
        (a, b): len(sets[a] & sets[b])
        for a, b in itertools.combinations(sorted(sets), 2)
        if len(sets[a] & sets[b]) >= min_overlap
    }
    assert got == expect


def test_overlap_pairs_rejects_min_overlap_below_one(spark):
    from artigraph_spark.operators.similarity import overlap_pairs

    members = spark.createDataFrame([(1, 1)], "s int, m int")
    with pytest.raises(ValueError, match="min_overlap"):
        overlap_pairs(members, "s", "m", 0)
