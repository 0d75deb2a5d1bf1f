"""Property-based tests (hypothesis): fingerprint algebra laws and
cross-engine fixed-point determinism on random inputs."""

import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from artigraph_spark.fingerprint import Fingerprint

fps = st.text(max_size=50).map(Fingerprint.from_string)


@given(fps, fps, fps)
def test_fingerprint_combine_laws(a, b, c):
    # commutative + associative (XOR)
    assert a.combine(b) == b.combine(a)
    assert a.combine(b).combine(c) == a.combine(b.combine(c))
    # identity + self-inverse
    assert a.combine(Fingerprint.identity()) == a
    assert a.combine(b, b) == a


@given(st.integers())
def test_fingerprint_int64_closure(v):
    if -(1 << 63) <= v < (1 << 63):
        assert Fingerprint.from_int(v).key == v
    else:
        with pytest.raises(ValueError, match="too large for int64"):
            Fingerprint.from_int(v)


@st.composite
def double_lists(draw):
    return draw(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
            min_size=1,
            max_size=200,
        )
    )


@given(double_lists())
@settings(max_examples=30, deadline=None)
def test_fixed_point_sum_matches_duckdb(values):
    """The fixed-point scheme (floor(x·2^20) int sum / 2^20) must produce
    bit-identical doubles in pure python, and in DuckDB, in ANY order —
    the invariant the whole oracle strategy rests on."""
    scale = float(1 << 20)
    py = float(sum(math.floor(v * scale) for v in values)) / scale
    py_rev = float(sum(math.floor(v * scale) for v in reversed(values))) / scale
    assert py == py_rev
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (SELECT unnest(?) AS x)", [values])
    (dk,) = con.sql(
        "SELECT CAST(SUM(CAST(floor(x * 1048576.0) AS BIGINT)) AS DOUBLE) / 1048576.0 FROM t"
    ).fetchone()
    assert dk == py


# --- sequence packing invariants (operators.packing) -------------------------

pack_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=10_000),
              st.integers(min_value=0, max_value=50)),
    min_size=0, max_size=40,
)


@settings(max_examples=15, deadline=None)
@given(pack_rows, st.integers(min_value=1, max_value=64))
@pytest.mark.slow
def test_pack_sequences_invariants(spark, rows, capacity):
    """For ANY input: tokens are conserved per doc, every bin except the
    last is exactly full, and bin ids are the contiguous prefix 0..B-1."""
    from artigraph_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(rows or [(0, 0)], "doc_id long, n long")
    if not rows:
        df = df.filter("false")
    out = pack_sequences(df, "doc_id", "n", capacity=capacity).collect()

    total = sum(n for _, n in rows)
    per_doc_expect = {}
    for i, n in rows:
        if n > 0:
            per_doc_expect[i] = per_doc_expect.get(i, 0) + n
    per_doc_got, per_bin = {}, {}
    for r in out:
        per_doc_got[r["doc_id"]] = per_doc_got.get(r["doc_id"], 0) + r["tokens_in_bin"]
        per_bin[r["bin_id"]] = per_bin.get(r["bin_id"], 0) + r["tokens_in_bin"]
        assert r["tokens_in_bin"] > 0
    assert per_doc_got == per_doc_expect  # conservation, NULL/zero dropped
    if total > 0:
        bins = sorted(per_bin)
        assert bins == list(range((total - 1) // capacity + 1))  # contiguous
        for b in bins[:-1]:
            assert per_bin[b] == capacity  # all bins full except the last
        assert per_bin[bins[-1]] == total - capacity * (len(bins) - 1)
    else:
        assert out == []


# --- round-5 pipeline operator invariants ------------------------------------

chunk_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1000),
        st.integers(min_value=0, max_value=60),
    ),
    min_size=0, max_size=20, unique_by=lambda t: t[0],
)


@settings(max_examples=15, deadline=None)
@given(chunk_docs, st.integers(min_value=1, max_value=16), st.data())
def test_chunk_documents_invariants(spark, docs, chunk_size, data):
    """For ANY corpus and window config: chunk texts concatenate to exactly
    cover every token (each consecutive pair overlaps by chunk_size-stride),
    chunk_idx is a dense 0..k-1 prefix, and n_tokens matches the slice."""
    from artigraph_spark.operators.text import chunk_documents

    stride = data.draw(st.integers(min_value=1, max_value=chunk_size))
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(n))) for i, n in docs]
    df = spark.createDataFrame(rows or [(0, "")], "doc_id long, text string")
    if not rows:
        df = df.filter("false")
    out = chunk_documents(df, "doc_id", "text", chunk_size=chunk_size, stride=stride)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(r)
    for i, n in docs:
        toks = [f"w{i}_{j}" for j in range(n)]
        if n == 0:
            assert i not in got
            continue
        chunks = sorted(got[i], key=lambda r: r["chunk_idx"])
        assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
        covered = set()
        for c in chunks:
            start = c["chunk_idx"] * stride
            want = toks[start : start + chunk_size]
            assert c["chunk_text"].split(" ") == want
            assert c["n_tokens"] == len(want)
            covered.update(range(start, start + len(want)))
        assert covered == set(range(n))  # full coverage, no token orphaned


budget_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=-50, max_value=200),  # score (ties likely)
        st.integers(min_value=-5, max_value=30),    # count (invalids likely)
    ),
    min_size=0, max_size=40, unique_by=lambda t: t[0],
)


@settings(max_examples=15, deadline=None)
@given(budget_rows, st.integers(min_value=0, max_value=300))
def test_select_token_budget_matches_greedy_oracle(spark, rows, budget):
    """For ANY input: the selection equals the driver-side greedy prefix by
    (score desc, id asc) over valid rows, with exact running totals."""
    from artigraph_spark.operators.packing import select_token_budget

    df = spark.createDataFrame(
        rows or [(0, 0, 0)], "doc_id long, score long, n long"
    )
    if not rows:
        df = df.filter("false")
    got = {
        r["doc_id"]: r["running_total"]
        for r in select_token_budget(df, "doc_id", "score", "n", budget).collect()
    }
    run, want = 0, {}
    for i, s, n in sorted(rows, key=lambda t: (-t[1], t[0])):
        if n <= 0:
            continue
        if run + n > budget:
            break
        run += n
        want[i] = run
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=-(10**6), max_value=10**6),
             min_size=0, max_size=60, unique=True)
)
def test_split_corpus_disjoint_exhaustive(spark, keys):
    """Every row gets exactly one split label; assignment depends only on
    the key (repartition-invariant)."""
    from pyspark.sql import functions as F

    from artigraph_spark.operators.packing import split_corpus

    df = spark.createDataFrame([(k,) for k in keys] or [(0,)], "k long")
    if not keys:
        df = df.filter("false")
    out = {r["k"]: r["split"] for r in split_corpus(df, F.col("k")).collect()}
    assert set(out) == set(keys)
    assert set(out.values()) <= {"train", "valid", "test"}
    again = {
        r["k"]: r["split"]
        for r in split_corpus(df.repartition(7), F.col("k")).collect()
    }
    assert out == again


sketch_keys = st.lists(
    st.integers(min_value=0, max_value=10_000), min_size=1, max_size=120
)


@settings(max_examples=10, deadline=None)
@given(sketch_keys)
def test_cms_never_undercounts_property(spark, keys):
    """CMS one-sided error on arbitrary multisets: for EVERY key, the
    estimate is >= its true frequency, even with forced collisions."""
    from collections import Counter

    from artigraph_spark.operators.sketches import cms_estimate, count_min_sketch

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    sketch = count_min_sketch(df, "k", width=16, depth=3)  # tiny → collisions
    est = {
        r["k"]: r["estimate"]
        for r in cms_estimate(
            sketch, df.select("k").distinct(), "k", width=16, depth=3
        ).collect()
    }
    truth = Counter(keys)
    for k, n in truth.items():
        assert est[k] >= n


@settings(max_examples=10, deadline=None)
@given(sketch_keys)
def test_bloom_membership_property(spark, keys):
    """Bloom one-sided error on arbitrary key sets: every member passes the
    prefilter regardless of saturation."""
    from artigraph_spark.operators.sketches import bloom_build, bloom_prefilter

    members = spark.createDataFrame([(k,) for k in set(keys)], "k long")
    probe = spark.createDataFrame([(k,) for k in range(0, 200)], "k long")
    bits = bloom_build(members, "k", num_bits=128, num_hashes=3)
    kept = {
        r["k"]
        for r in bloom_prefilter(probe, "k", bits, num_bits=128, num_hashes=3).collect()
    }
    assert {k for k in set(keys) if k < 200} <= kept


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.floats(min_value=0.0, max_value=99.5, allow_nan=False), min_size=1, max_size=80
    ),
    st.sampled_from([0.25, 0.5, 0.9, 1.0]),
)
def test_histogram_quantile_rank_coverage_property(spark, values, q):
    """Rank coverage on arbitrary in-range inputs: at least ceil(q·n) values
    sit at or below the estimate."""
    import math as _math

    from artigraph_spark.operators.sketches import histogram_quantiles

    df = spark.createDataFrame([(v,) for v in values], "x double")
    row = histogram_quantiles(df, "x", 0.0, 100.0, 8, [q]).collect()[0]
    covered = sum(1 for v in values if v <= row["estimate"])
    assert covered >= row["target_rank"]
    assert row["target_rank"] == _math.ceil(q * len(values))


@settings(max_examples=8, deadline=None)
@given(sketch_keys, sketch_keys)
@pytest.mark.slow
def test_hll_merge_equals_union_property(spark, a_keys, b_keys):
    """Sketch-of-union == merge-of-sketches, exactly, for arbitrary splits."""
    from pyspark.sql import functions as F

    from artigraph_spark.operators.sketches import hll_estimate, hll_sketch

    a = spark.createDataFrame([(k,) for k in a_keys], "k long")
    b = spark.createDataFrame([(k,) for k in b_keys], "k long")
    merged = (
        hll_sketch(a, "k", m=64)
        .unionByName(hll_sketch(b, "k", m=64))
        .groupBy("register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    whole = hll_sketch(a.unionByName(b), "k", m=64)
    em = hll_estimate(merged, m=64).collect()[0]["estimate"]
    ew = hll_estimate(whole, m=64).collect()[0]["estimate"]
    assert em == ew


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=24), min_size=1, max_size=12
    ),
    st.integers(min_value=1, max_value=3),
)
def test_dedup_segments_conservation_property(spark, texts, k):
    """Segment dedup conserves accounting on arbitrary corpora: per doc,
    kept + removed == n_segments, and every surviving doc's text rebuilds
    from a subset of its original segments in order."""
    from artigraph_spark.operators.dedup import dedup_segments

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = dedup_segments(df, "doc_id", "text", seg_tokens=k)
    rows = out.collect()
    assert len(rows) == len(texts)  # no doc vanishes
    for r in rows:
        orig = texts[r["doc_id"]]
        toks = orig.split(" ")
        segs = [" ".join(toks[i : i + k]) for i in range(0, len(toks), k)]
        kept = len(segs) - r["n_removed"]
        assert r["n_segments"] == len(segs)
        assert 0 <= kept <= len(segs)
        # the rebuilt text is the in-order join of a subset of segments
        if r["text"]:
            rebuilt_segs = r["text"].split(" ")
            # every rebuilt token appears in the original (multiset-wise subset)
            from collections import Counter

            assert not Counter(rebuilt_segs) - Counter(toks)


_edge_lists = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=0,
    max_size=25,
)


@settings(max_examples=15, deadline=None)
@given(_edge_lists)
def test_triangle_counts_match_bruteforce(spark, edges):
    """Degree-ordered wedge enumeration must agree with the O(n^3)
    brute-force count on arbitrary small graphs — duplicates, reversed
    edges, and self-loops included."""
    from itertools import combinations

    from artigraph_spark.operators.graph import triangle_counts

    undirected = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = sorted({n for e in undirected for n in e})
    expected: dict[int, int] = {}
    for x, y, z in combinations(nodes, 3):
        if (
            (x, y) in undirected
            and (y, z) in undirected
            and (x, z) in undirected
        ):
            for n in (x, y, z):
                expected[n] = expected.get(n, 0) + 1
    df = spark.createDataFrame(
        [(a, b) for a, b in edges if True] or [(0, 0)], "s long, d long"
    )
    if not edges:
        df = df.filter("s <> s")  # truly empty frame with the right schema
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(df, "s", "d", materialize=False).collect()
    }
    assert got == expected


@settings(max_examples=15, deadline=None)
@given(
    a_keys=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=60),
    b_keys=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=60),
)
@pytest.mark.slow
def test_cms_inner_product_bounds_join_size(spark, a_keys, b_keys):
    """∀ multisets: narrow-sketch inner product ≥ exact join size; a
    collision-free-wide sketch recovers it exactly."""
    from collections import Counter

    from artigraph_spark.operators.sketches import cms_inner_product, count_min_sketch

    ca, cb = Counter(a_keys), Counter(b_keys)
    exact = sum(ca[k] * cb[k] for k in ca)
    a = spark.createDataFrame([(k,) for k in a_keys], ["k"])
    b = spark.createDataFrame([(k,) for k in b_keys], ["k"])
    narrow = cms_inner_product(
        count_min_sketch(a, "k", width=4, depth=2, seed=5),
        count_min_sketch(b, "k", width=4, depth=2, seed=5),
    ).collect()[0]["join_size_est"]
    assert narrow >= exact
    wide = cms_inner_product(
        count_min_sketch(a, "k", width=512, depth=3, seed=5),
        count_min_sketch(b, "k", width=512, depth=3, seed=5),
    ).collect()[0]["join_size_est"]
    assert wide == exact


@settings(max_examples=10, deadline=None)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=4),
)
def test_stratified_split_exact_counts_law(spark, sizes):
    """∀ strata sizes: per-stratum label counts are exactly the
    ceil-cumulative boundaries, and the split partitions the stratum."""
    import math
    from collections import Counter

    from pyspark.sql import functions as SF

    from artigraph_spark.operators.packing import stratified_split_exact

    rows = [
        (s * 1000 + i, f"s{s}") for s, n in enumerate(sizes) for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "stratum"])
    out = stratified_split_exact(df, "stratum", SF.col("doc_id"))
    per = Counter((r["stratum"], r["split"]) for r in out.collect())
    for s, n in enumerate(sizes):
        t, v = math.ceil(0.8 * n), math.ceil(0.9 * n)
        assert per[(f"s{s}", "train")] == t
        assert per[(f"s{s}", "valid")] == v - t
        assert per[(f"s{s}", "test")] == n - v


ewma_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),
        st.floats(
            min_value=-1000, max_value=1000, allow_nan=False, allow_infinity=False
        ),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None)
@given(ewma_rows, st.integers(min_value=1, max_value=20), st.data())
def test_ewma_state_merge_law(spark, rows, split_at, data):
    """Merge law for the EWMA state: building per-bucket sums over ANY
    partition of the data and merging by plain sum answers the same
    EWMA as the one-shot build — the property sketch_state_sink relies
    on across micro-batches."""
    from pyspark.sql import functions as F

    from artigraph_spark.operators.timeseries import (
        ewma_buckets,
        ewma_from_state,
        ewma_state,
    )

    cut = data.draw(st.integers(min_value=0, max_value=len(rows)))
    df = spark.createDataFrame(rows, ["b", "v"])
    full = sorted(
        map(tuple, ewma_buckets(df, F.col("b"), "v", window_buckets=3).collect())
    )
    parts = [rows[:cut], rows[cut:]]
    states = [
        ewma_state(spark.createDataFrame(p, "b long, v double"), F.col("b"), "v")
        for p in parts
        if p
    ]
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    merged = merged.groupBy("__b").agg(F.sum("__s").alias("__s"))
    got = sorted(
        map(tuple, ewma_from_state(merged, window_buckets=3).collect())
    )
    assert got == full


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
        ),
        min_size=2,
        max_size=30,
    ),
    st.integers(min_value=1, max_value=16),
)
def test_moments_partition_invariance(spark, vals, n_parts):
    """The fixed-point power sums make every moment bit-identical at any
    partition count — the determinism contract, property-tested."""
    from artigraph_spark.operators.quality import moments

    rows = [("g", float(v)) for v in vals]
    a = moments(
        spark.createDataFrame(rows, "g string, x double").coalesce(1), "g", "x"
    ).collect()[0]
    b = moments(
        spark.createDataFrame(rows, "g string, x double").repartition(n_parts),
        "g",
        "x",
    ).collect()[0]
    assert tuple(a) == tuple(b)


@given(terms=st.lists(st.text(alphabet="abcXYZ012~:=", max_size=8), max_size=12))
@settings(max_examples=200, deadline=None)
def test_fingerprint_multiset_laws(terms):
    """from_multiset is permutation-invariant and duplicate-COUNTING: any
    reordering hashes identically, while adding a copy of an existing term
    changes the hash (the law XOR-combining could not give — identical
    terms cancelled pairwise)."""
    fp = Fingerprint.from_multiset(terms)
    assert fp == Fingerprint.from_multiset(list(reversed(terms)))
    assert fp == Fingerprint.from_multiset(sorted(terms))
    if terms:
        assert Fingerprint.from_multiset(terms + [terms[0]]) != fp


@given(
    keys=st.dictionaries(
        st.text(alphabet="abcd", min_size=1, max_size=3),
        st.text(alphabet="ab/=\x00~%", max_size=6),
        max_size=4,
    ),
    other=st.dictionaries(
        st.text(alphabet="abcd", min_size=1, max_size=3),
        st.text(alphabet="ab/=\x00~%", max_size=6),
        max_size=4,
    ),
)
@settings(max_examples=300, deadline=None)
def test_partition_key_canonical_injective_property(keys, other):
    """canonical() collides only for EQUAL keys, across adversarial field
    values containing the join/separator characters themselves."""
    from artigraph_spark.partitions import PartitionKey, StringField

    k1 = PartitionKey(fields={n: StringField(key=v) for n, v in keys.items()})
    k2 = PartitionKey(fields={n: StringField(key=v) for n, v in other.items()})
    if keys == other:
        assert k1.canonical() == k2.canonical()
    else:
        assert k1.canonical() != k2.canonical()
    assert "\x00" not in k1.canonical()


# --- cdc_apply vs a reference MERGE model -----------------------------------

cdc_base = st.lists(
    st.tuples(st.integers(min_value=0, max_value=20), st.integers(min_value=0, max_value=99)),
    max_size=15,
    unique_by=lambda t: t[0],  # snapshots have unique keys
)
cdc_changes = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),   # key
        st.integers(min_value=0, max_value=99),   # value
        st.integers(min_value=0, max_value=9),    # ts
        st.sampled_from(["U", "D"]),
    ),
    max_size=25,
)


@settings(max_examples=15, deadline=None)
@given(cdc_base, cdc_changes)
def test_cdc_apply_matches_merge_model(spark, base_rows, chg_rows):
    """cdc_apply == the sequential MERGE model: sort changes by
    (ts, change_id), replay them over a dict, compare final states.
    change_id (the input index) breaks ts ties exactly like order_cols."""
    from artigraph_spark.operators.quality import cdc_apply

    chg_rows = [(k, v, ts, op, i) for i, (k, v, ts, op) in enumerate(chg_rows)]
    state = dict(base_rows)
    for k, v, ts, op, _i in sorted(chg_rows, key=lambda r: (r[0], r[2], r[4])):
        if op == "U":
            state[k] = v
        else:
            state.pop(k, None)

    base = spark.createDataFrame(base_rows or [(None, None)], "k int, v int").filter(
        "k IS NOT NULL"
    )
    chg = spark.createDataFrame(
        chg_rows or [(None, None, None, None, None)],
        "k int, v int, ts int, op string, cid int",
    ).filter("k IS NOT NULL")
    got = {
        r["k"]: r["v"]
        for r in cdc_apply(base, chg, "k", order_cols=["ts", "cid"]).collect()
    }
    assert got == state


@st.composite
def grouped_values(draw):
    """(group, value) rows with ties, NULL groups, NaN values, and
    single-row groups — the adversarial shapes for exact ranking."""
    groups = draw(st.lists(st.sampled_from(["a", "b", "c", None]), min_size=1, max_size=60))
    vals = draw(
        st.lists(
            st.one_of(
                st.sampled_from([0.0, 1.0, 2.5, -3.0, float("nan")]),
                st.floats(min_value=-100, max_value=100, allow_nan=False, allow_infinity=False),
            ),
            min_size=len(groups),
            max_size=len(groups),
        )
    )
    return list(zip(groups, vals))


@given(grouped_values(), st.sampled_from([1, 2, 7, 1024]))
@settings(max_examples=12, deadline=None)
def test_bucketed_ranks_equal_window_ranks_property(spark, rows, buckets):
    """For ANY data and ANY bucket count, the bucketed prefix-sum rank
    must equal rank() over the raw per-group window — the invariant the
    r9 rank_normalize/quantile_normalize/orderstats rewrites rest on."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from artigraph_spark.operators._ranks import bucketed_group_value_ranks

    df = spark.createDataFrame(rows, "g: string, v: double")
    w = Window.partitionBy("g").orderBy(F.col("v").asc_nulls_last())
    ckey = lambda g, v: (g, "NaN" if v != v else v)  # noqa: E731
    want = {
        ckey(r["g"], r["v"]): r["rk"]
        for r in df.withColumn("rk", F.rank().over(w)).collect()
    }
    got = bucketed_group_value_ranks(df, ["g"], "v", buckets=buckets).collect()
    # every distinct (group, value) present exactly once with the raw rank
    seen = set()
    for r in got:
        k = ckey(r["g"], r["__v"])
        assert k not in seen
        seen.add(k)
        assert r["__rg"] == want[k], (buckets, r)
    assert seen == set(want)


_ps_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),
        st.one_of(
            st.integers(min_value=-50, max_value=50).map(float),
            st.floats(allow_nan=False, allow_infinity=False, width=32),
        ),
        st.integers(min_value=1, max_value=5),
    ),
    max_size=40,
)


@settings(max_examples=12, deadline=None)
@given(_ps_rows, st.sampled_from([1, 2, 7, 64]))
def test_bucketed_prefix_sums_property(spark, rows, buckets):
    """For ANY (group, value, weight) histogram and ANY bucket count, the
    range-bucketed two-phase prefix equals the naive cumulative window
    and the totals equal the group sums (r10 primitive)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from artigraph_spark.operators._ranks import bucketed_prefix_sums

    df = spark.createDataFrame(rows or [("a", 0.0, 1)], "g string, v double, f long")
    if not rows:
        df = df.filter("false")
    hist = df.groupBy("g", "v").agg(F.sum("f").alias("f"))
    w = Window.partitionBy("g").orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        (r["g"], r["v"]): (r["p"] or 0, r["t"])
        for r in hist.select(
            "g", "v",
            F.sum("f").over(w).alias("p"),
            F.sum("f").over(Window.partitionBy("g")).alias("t"),
        ).collect()
    }
    got = {
        (r["g"], r["v"]): (r["__pre_f"], r["__tot_f"])
        for r in bucketed_prefix_sums(hist, ["g"], "v", ["f"], buckets=buckets).collect()
    }
    assert got == want


@settings(max_examples=12, deadline=None)
@given(_ps_rows, st.sampled_from([1, 2, 7, 64]))
def test_bucketed_prefix_sums_decimal_property(spark, rows, buckets):
    """The r11 type-preservation contract: DECIMAL(38,9) masses prefix-sum
    EXACTLY (scale 9 preserved, values equal the naive cumulative window
    bit-for-bit) for ANY histogram and ANY bucket count — the substrate
    the kaplan_meier grid-term sums rest on."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from artigraph_spark.operators._ranks import bucketed_prefix_sums

    df = spark.createDataFrame(rows or [("a", 0.0, 1)], "g string, v double, f long")
    if not rows:
        df = df.filter("false")
    # a 9-decimal mass derived from the weight — exact on the grid
    hist = df.groupBy("g", "v").agg(
        (F.sum("f") + F.lit(0.000000001) * F.sum("f"))
        .cast("decimal(38,9)")
        .alias("m")
    )
    w = Window.partitionBy("g").orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        (r["g"], r["v"]): (r["p"] if r["p"] is not None else 0, r["t"])
        for r in hist.select(
            "g", "v",
            F.sum("m").over(w).alias("p"),
            F.sum("m").over(Window.partitionBy("g")).alias("t"),
        ).collect()
    }
    out = bucketed_prefix_sums(hist, ["g"], "v", ["m"], buckets=buckets)
    sch = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert sch["__pre_m"] == "decimal(38,9)" and sch["__tot_m"] == "decimal(38,9)"
    got = {(r["g"], r["v"]): (r["__pre_m"], r["__tot_m"]) for r in out.collect()}
    assert got == want


@settings(max_examples=12, deadline=None)
@given(_ps_rows, st.sampled_from([1, 3, 64]))
def test_bucketed_group_row_numbers_property(spark, rows, buckets):
    """For ANY input and ANY bucket count, the grouped bucketed
    row_number equals the naive per-group window row_number under a
    TOTAL order (value, unique id), and the count column equals the
    group size (r10 primitive)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from artigraph_spark.operators._ranks import bucketed_group_row_numbers

    uniq = [(g, v, i) for i, (g, v, _) in enumerate(rows)]
    df = spark.createDataFrame(uniq or [("a", 0.0, 0)], "g string, v double, id long")
    if not uniq:
        df = df.filter("false")
    w = Window.partitionBy("g").orderBy(F.col("v").asc_nulls_first(), "id")
    want = {
        r["id"]: (r["rn"], r["n"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("g")))
        .collect()
    }
    got = {
        r["id"]: (r["__rn"], r["__n"])
        for r in bucketed_group_row_numbers(
            df, ["g"], "v", ["id"], buckets=buckets, count_col="__n"
        ).collect()
    }
    assert got == want


_km_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=0, max_value=1),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None)
@given(_km_rows)
@pytest.mark.slow
def test_grouped_kaplan_meier_equals_per_group_solo(spark, rows):
    """For ANY (group, duration, observed) input, the grouped KM curves
    equal the single-group curve computed on each group's rows alone —
    groups are fully independent (r11 group_cols)."""
    from artigraph_spark.operators.timeseries import kaplan_meier

    df = spark.createDataFrame(rows, "g: string, d: bigint, obs: int")
    got = {
        (r["g"], r["duration"]): (
            r["n_risk"], r["n_event"], r["n_censored"], r["survival_r"]
        )
        for r in kaplan_meier(df, "d", "obs", group_cols=["g"]).collect()
    }
    want = {}
    for g in sorted({r[0] for r in rows}):
        sub = [(d, o) for gg, d, o in rows if gg == g]
        solo = spark.createDataFrame(sub, "d: bigint, obs: int")
        for r in kaplan_meier(solo, "d", "obs").collect():
            want[(g, r["duration"])] = (
                r["n_risk"], r["n_event"], r["n_censored"], r["survival_r"]
            )
    assert got == want


_lr_rows = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=10),
        st.integers(min_value=0, max_value=1),
        st.integers(min_value=0, max_value=1),
    ),
    min_size=1,
    max_size=50,
)


@settings(max_examples=10, deadline=None)
@given(_lr_rows)
def test_logrank_matches_driver_replay_property(spark, rows):
    """For ANY (duration, observed, group) input the distributed log-rank
    statistic equals a driver-side sequential replay with the same grid
    conventions — O/E/V sums, z, and the degenerate V=0 path (r11)."""
    from tests.test_round11_ops import _naive_logrank

    from artigraph_spark.operators.timeseries import logrank_test

    df = spark.createDataFrame(rows, "d: bigint, obs: int, g: int")
    r = logrank_test(df, "d", "obs", "g").collect()[0]
    n1, n0, o1, e1, v, z = _naive_logrank(rows)
    assert (r["n_treat"], r["n_control"], r["o1"]) == (n1, n0, o1)
    assert r["e1_r"] == e1 and r["v_r"] == v and r["z_r"] == z


@settings(max_examples=8, deadline=None)
@given(_km_rows, st.integers(min_value=1, max_value=15))
@pytest.mark.slow
def test_rmst_grouped_equals_solo_property(spark, rows, horizon):
    """For ANY curves and ANY horizon, grouped RMST equals each group's
    solo RMST, and every value lies in [0, horizon] (r11)."""
    from artigraph_spark.operators.timeseries import (
        kaplan_meier,
        restricted_mean_survival,
    )

    df = spark.createDataFrame(rows, "g: string, d: bigint, obs: int")
    curve = kaplan_meier(df, "d", "obs", group_cols=["g"])
    got = {
        r["g"]: r["rmst_r"]
        for r in restricted_mean_survival(
            curve, "duration", "survival_r", horizon, group_cols=["g"]
        ).collect()
    }
    for g in sorted({r[0] for r in rows}):
        sub = [(d, o) for gg, d, o in rows if gg == g]
        solo = kaplan_meier(
            spark.createDataFrame(sub, "d: bigint, obs: int"), "d", "obs"
        )
        (r,) = restricted_mean_survival(
            solo, "duration", "survival_r", horizon
        ).collect()
        assert got[g] == r["rmst_r"]
        assert 0.0 <= got[g] <= float(horizon)


# --- scale-adaptive prefix sums: window arm == bucketed arm -------------------


def _both_arms(run):
    """``run()`` on the plain-window arm (the size gate answers yes) and on
    the forced-bucketed arm (a zero reuse threshold), in that order."""
    from artigraph_spark.operators import _adaptive

    out = []
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(_adaptive, "summary_sized", lambda df: True)
        out.append(run())
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_REUSE_MIN_BYTES", "0")
        out.append(run())
    return out


@settings(max_examples=10, deadline=None)
@given(_ps_rows)
def test_window_prefix_sums_equal_bucketed_property(spark, rows):
    """For ANY histogram, the plain-window prefix sums equal the bucketed
    walk's row for row and type for type, on an integral count and a
    DECIMAL(38,9) mass, with a NULL group key among the groups."""
    from pyspark.sql import functions as F

    from artigraph_spark.operators import _adaptive
    from artigraph_spark.operators._ranks import (
        bucketed_prefix_sums,
        window_prefix_sums,
    )

    df = spark.createDataFrame(rows or [("a", 0.0, 1)], "g string, v double, f long")
    if not rows:
        df = df.filter("false")
    hist = df.groupBy("g", "v").agg(
        F.sum("f").cast("int").alias("n"),
        (F.sum("f") + F.lit(0.000000001) * F.sum("f")).cast("decimal(38,9)").alias("m"),
    )
    win = window_prefix_sums(hist, ["g"], "v", ["n", "m"])
    with pytest.MonkeyPatch.context() as mp:  # pin the bucketed walk
        mp.setattr(_adaptive, "summary_sized", lambda df: False)
        bkt = bucketed_prefix_sums(hist, ["g"], "v", ["n", "m"], buckets=3)
    assert win.schema.simpleString() == bkt.schema.simpleString()
    assert dict(win.dtypes)["__pre_n"] == "bigint"
    assert dict(win.dtypes)["__pre_m"] == "decimal(38,9)"
    key = lambda r: (r["g"] is None, r["g"] or "", r["v"])  # noqa: E731
    assert sorted(win.collect(), key=key) == sorted(bkt.collect(), key=key)


_vr_arm_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),
        st.integers(min_value=-3, max_value=3),
        st.integers(min_value=1, max_value=3),
    ),
    max_size=30,
)


@settings(max_examples=8, deadline=None)
@given(_vr_arm_rows, st.booleans())
def test_value_ranks_arms_agree_property(spark, rows, as_string):
    """For ANY input (empty included), bucketed_group_value_ranks'
    plain-window arm and its forced-bucketed arm give identical rows and
    types — on raw rows and on the ``freq_col`` histogram form, for a
    numeric and a string value, with a NULL group key among the groups."""
    from pyspark.sql import functions as F

    from artigraph_spark.operators._ranks import bucketed_group_value_ranks

    df = spark.createDataFrame(rows, "g: string, v: bigint, f: int")
    if as_string:
        df = df.withColumn("v", F.col("v").cast("string"))
    key = lambda r: (r["g"] is None, r["g"] or "", r["__v"])  # noqa: E731
    for freq_col in (None, "f"):

        def run():
            out = bucketed_group_value_ranks(
                df, ["g"], "v", buckets=3, freq_col=freq_col
            )
            return out.schema.simpleString(), sorted(out.collect(), key=key)

        win, bkt = _both_arms(run)
        assert win == bkt


_km_arm_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", None]),
        st.one_of(
            st.integers(min_value=1, max_value=4),  # tied durations
            st.integers(min_value=1, max_value=10_000_000),  # µs-granular
        ),
        st.integers(min_value=0, max_value=1),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=8, deadline=None)
@given(_km_arm_rows, st.booleans(), st.booleans())
def test_kaplan_meier_arms_agree_property(spark, rows, grouped, tail):
    """For ANY input, kaplan_meier's plain-window arm and its
    forced-bucketed arm give identical curves — ungrouped and grouped
    (NULL group key included), tied and µs-granular durations, and with
    ``tail`` a last duration where every remaining unit has the event
    (d = n, the zero flag)."""
    from artigraph_spark.operators.timeseries import kaplan_meier

    if tail:
        rows = rows + [(g, 10_000_001, 1) for g in ("a", "b", None)]
    df = spark.createDataFrame(rows, "g: string, d: bigint, obs: int")
    gcols = ["g"] if grouped else []
    win, bkt = _both_arms(
        lambda: kaplan_meier(df, "d", "obs", group_cols=gcols).collect()
    )
    assert win == bkt
    if tail:
        assert win[-1]["survival_r"] == 0.0


_lr_arm_rows = st.lists(
    st.tuples(
        st.one_of(
            st.integers(min_value=1, max_value=4),
            st.integers(min_value=1, max_value=10_000_000),
        ),
        st.integers(min_value=0, max_value=1),
        st.integers(min_value=0, max_value=1),
    ),
    max_size=40,
)


@settings(max_examples=8, deadline=None)
@given(_lr_arm_rows)
def test_logrank_arms_agree_property(spark, rows):
    """For ANY input (empty included), logrank_test's plain-window arm and
    its forced-bucketed arm give the identical statistics row."""
    from artigraph_spark.operators.timeseries import logrank_test

    df = spark.createDataFrame(rows, "d: bigint, obs: int, g: int")
    win, bkt = _both_arms(lambda: logrank_test(df, "d", "obs", "g").collect())
    assert win == bkt


# --- r12: shingled MinHash / poly62 SimHash vs driver-side references --------

_doc_texts = st.lists(
    st.text(
        alphabet=st.sampled_from(list("abcd ")),
        max_size=40,
    ),
    min_size=1,
    max_size=12,
)

_P61 = (1 << 61) - 1
_M31 = (1 << 31) - 1


def _ref_hash_coeffs(num_hashes, seed=42):
    from artigraph_spark.operators.dedup import _hash_coeffs

    return _hash_coeffs(num_hashes, seed)


def _ref_shingled_sigs(texts, num_hashes=4, shingle_size=3, seed=42):
    """Pure-Python replay of minhash_signatures_shingled (doc_id = index)."""
    toks = {i: [t for t in txt.lower().split() if t] for i, txt in enumerate(texts)}
    vocab = sorted({t for ts in toks.values() for t in ts})
    tid = {t: i + 1 for i, t in enumerate(vocab)}
    comb = _ref_hash_coeffs(shingle_size, seed + 7919)
    coeffs = _ref_hash_coeffs(num_hashes, seed)
    out = {}
    for i, ts in toks.items():
        ids = [tid[t] for t in ts]
        shingles = []
        if len(ids) >= shingle_size:
            for p in range(len(ids) - shingle_size + 1):
                s = 0
                for j in range(shingle_size):
                    s = (s + comb[j][0] * ids[p + j] % _P61) % _P61
                shingles.append(s % _M31)
        elif ids:
            s = 0
            for j in range(shingle_size):
                term = comb[j][0] * ids[j] % _P61 if j < len(ids) else 0
                s = (s + term) % _P61
            shingles.append(s % _M31)
        if shingles:
            out[i] = tuple(
                min((a * sh + b) % _P61 for sh in shingles) for a, b in coeffs
            )
        else:
            fid = i % _M31
            out[i] = tuple((a * fid + b) % _P61 for a, b in coeffs)
    return out


@settings(max_examples=10, deadline=None)
@given(_doc_texts)
def test_shingled_minhash_matches_driver_replay_property(spark, texts):
    from artigraph_spark.operators.dedup import minhash_signatures_shingled

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id: long, text: string"
    )
    got = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(4))
        for r in minhash_signatures_shingled(
            df, "doc_id", "text", num_hashes=4
        ).collect()
    }
    assert got == _ref_shingled_sigs(texts)


def _ref_simhash62(texts):
    """Pure-Python replay of simhash(hash_fn='poly62') (doc_id = index)."""
    out = {}
    for i, txt in enumerate(texts):
        toks = [t for t in txt.lower().split() if t]
        if not toks:
            out[i] = 0
            continue
        votes = [0] * 62
        for t in toks:
            h1 = h2 = 0
            for ch in t:
                h1 = (h1 * 131 + ord(ch)) % _M31
                h2 = (h2 * 137 + ord(ch)) % 2147483629
            h = h1 * (1 << 31) + h2
            for b in range(62):
                votes[b] += 1 if (h >> b) & 1 else -1
        out[i] = sum((1 << b) for b in range(62) if votes[b] > 0)
    return out


@settings(max_examples=10, deadline=None)
@given(_doc_texts)
def test_poly62_simhash_matches_driver_replay_property(spark, texts):
    from artigraph_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id: long, text: string"
    )
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash(df, "doc_id", "text", bits=62, hash_fn="poly62").collect()
    }
    assert got == _ref_simhash62(texts)
