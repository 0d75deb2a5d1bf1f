"""Round-13 guards + operators: ADVICE-item API boundaries (keep_cols
collision, ts_col type checks; the NULL external bucket-id guard lives in
test_rank_walks.py) and the round's new dedup-family members."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- guards


def test_minhash_fast_keep_cols_collision_raises(spark):
    from artigraph_spark.operators.dedup import minhash_signatures_fast

    df = spark.createDataFrame(
        [(1, "a b c", "x")], "doc_id long, text string, __toks string"
    )
    with pytest.raises(ValueError, match="keep_cols.*collide"):
        minhash_signatures_fast(df, "doc_id", "text", keep_cols=("__toks",))
    with pytest.raises(ValueError, match="collide"):
        minhash_signatures_fast(df, "doc_id", "text", num_hashes=4, keep_cols=("mh2",))
    with pytest.raises(ValueError, match="collide"):
        minhash_signatures_fast(df, "doc_id", "text", keep_cols=("doc_id",))


def test_minhash_fast_keep_cols_mh_outside_range_ok(spark):
    # mh4 is NOT an output of a num_hashes=4 run (outputs are mh0..mh3) —
    # a column by that name passes through untouched.
    from artigraph_spark.operators.dedup import minhash_signatures_fast

    df = spark.createDataFrame([(1, "a b c d", 7)], "doc_id long, text string, mh4 int")
    out = minhash_signatures_fast(df, "doc_id", "text", num_hashes=4, keep_cols=("mh4",))
    row = out.collect()[0]
    assert row["mh4"] == 7
    assert {f"mh{i}" for i in range(4)} <= set(out.columns)


def test_stateful_dedup_ts_col_type_guard(spark):
    from artigraph_spark.streaming import stateful_exact_dedup, stateful_lsh_band_flags

    df = spark.createDataFrame(
        [(1, "h", "2024-01-01")], "doc_id long, h string, ts string"
    )
    with pytest.raises(TypeError, match="stateful_exact_dedup.*timestamp"):
        stateful_exact_dedup(df, "doc_id", "h", ts_col="ts", ttl_seconds=60)
    df2 = spark.createDataFrame(
        [(1, "some text", "2024-01-01")], "doc_id long, text string, ts string"
    )
    with pytest.raises(TypeError, match="stateful_lsh_band_flags.*timestamp"):
        stateful_lsh_band_flags(df2, "doc_id", "text", ts_col="ts", ttl_seconds=60)


# ------------------------------------------------- cdc_chunk_dedup_report


def test_cdc_chunk_dedup_finds_shifted_twin(spark):
    # Doc 2 is doc 1 with a token inserted at the top — fixed-span dedup
    # matches nothing, but CDC chunks re-lock so the pair is reported.
    from artigraph_spark.operators.dedup import cdc_chunk_dedup_report

    base = (
        "the quick brown fox jumps over the lazy dog again and again until "
        "done and then some more words to make several chunks appear here "
        "finally the end of the document arrives now"
    )
    df = spark.createDataFrame(
        [(1, base), (2, "inserted " + base), (3, "totally unrelated words only")],
        "doc_id: long, text: string",
    )
    rows = cdc_chunk_dedup_report(
        df, "doc_id", "text", window=3, mask_bits=2, min_shared=1
    ).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
    assert (1, 2) in pairs
    assert all(p == (1, 2) for p in pairs)
    r = rows[0]
    # shift-robustness: at most the chunk(s) near the edit differ
    assert r["shared_chunks"] >= min(r["chunks_a"], r["chunks_b"]) - 1
    assert r["shared_tokens"] >= 1


def test_cdc_chunk_dedup_stop_chunk_cap(spark):
    # A chunk fingerprint present in MORE than max_df docs is a stop
    # chunk: it must not create pairs on its own.
    from artigraph_spark.operators.dedup import cdc_chunk_dedup_report

    boiler = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
    df = spark.createDataFrame(
        [(i, boiler) for i in range(1, 6)], "doc_id: long, text: string"
    )
    # all 5 docs share every chunk; with max_df=4 the fps are capped out
    rows = cdc_chunk_dedup_report(
        df, "doc_id", "text", window=3, mask_bits=1, max_df=4, min_shared=1
    ).collect()
    assert rows == []
    # with max_df=5 all 10 pairs surface
    rows = cdc_chunk_dedup_report(
        df, "doc_id", "text", window=3, mask_bits=1, max_df=5, min_shared=1
    ).collect()
    assert len(rows) == 10


def test_cdc_chunk_dedup_param_guards(spark):
    from artigraph_spark.operators.dedup import cdc_chunk_dedup_report

    df = spark.createDataFrame([(1, "a b")], "doc_id: long, text: string")
    with pytest.raises(ValueError, match="max_df"):
        cdc_chunk_dedup_report(df, "doc_id", "text", max_df=1)
    with pytest.raises(ValueError, match="min_shared"):
        cdc_chunk_dedup_report(df, "doc_id", "text", min_shared=0)


# ----------------------------------------------------------- semdedup


def test_semdedup_prunes_in_cluster_twin_keeps_smaller_id(spark):
    from artigraph_spark.operators.similarity import semdedup

    # Two tight pairs far apart + one loner. k=2 puts each pair in its
    # own cluster; within a pair cosine ≈ 1 → the larger id is pruned.
    rows = [
        (1, [1.0, 0.0, 0.1]),
        (2, [0.99, 0.01, 0.1]),   # near-twin of 1
        (10, [0.0, 1.0, -0.1]),
        (11, [0.01, 0.99, -0.1]),  # near-twin of 10
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = {r["vec_id"]: r for r in semdedup(
        df, k=2, iterations=2, qbits=8, threshold=(9, 10), dim=3
    ).collect()}
    assert len(out) == 4
    assert out[1]["pruned"] == 0 and out[2]["pruned"] == 1
    assert out[10]["pruned"] == 0 and out[11]["pruned"] == 1
    assert out[1]["cluster"] == out[2]["cluster"]
    assert out[10]["cluster"] == out[11]["cluster"]
    assert out[1]["cluster"] != out[10]["cluster"]


def test_semdedup_cross_cluster_twins_not_pruned(spark):
    # SemDeDup only prunes WITHIN a cluster: identical vectors forced
    # into different clusters survive. With k=4 and 4 points, each seed
    # is its own cluster at iteration 0; vectors stay where assignment
    # puts them — use k = n so every point seeds a cluster.
    from artigraph_spark.operators.similarity import semdedup

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = {r["vec_id"]: r["pruned"] for r in semdedup(
        df, k=2, iterations=1, qbits=8, threshold=(1, 10), dim=2
    ).collect()}
    # orthogonal vectors: cosine 0 < any positive threshold → no prune
    assert out == {1: 0, 2: 0}


def test_semdedup_zero_vector_never_pruned_or_pruning(spark):
    from artigraph_spark.operators.similarity import semdedup

    rows = [
        (1, [0.5, 0.5]),
        (2, [0.5, 0.5]),
        (3, [0.0, 0.0]),  # zero norm: cosine undefined → never matches
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    out = {r["vec_id"]: r["pruned"] for r in semdedup(
        df, k=1, iterations=1, qbits=8, threshold=(9, 10), dim=2
    ).collect()}
    assert out[2] == 1  # exact twin of 1, same cluster
    assert out[3] == 0  # zero vector survives


def test_semdedup_param_guards(spark):
    from artigraph_spark.operators.similarity import semdedup

    df = spark.createDataFrame([(1, [1.0])], "vec_id: long, embedding: array<float>")
    with pytest.raises(ValueError, match="threshold"):
        semdedup(df, threshold=(0, 10))
    with pytest.raises(ValueError, match="threshold"):
        semdedup(df, threshold=(11, 10))
    with pytest.raises(ValueError, match="qbits"):
        semdedup(df, qbits=0)
    # overflow proof: a huge threshold denominator fails validation
    with pytest.raises(ValueError, match="overflow int64"):
        semdedup(df, dim=64, qbits=12, threshold=(999, 1000))


def test_semdedup_enforces_dim_and_bounds(spark):
    from artigraph_spark.operators.similarity import semdedup

    # wrong length vs declared dim → loud execution-time error
    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.1, 0.2])], "vec_id: long, embedding: array<float>"
    )
    with pytest.raises(Exception, match="!= dim 3"):
        semdedup(df, k=1, iterations=0, dim=3).collect()
    # out-of-bound coordinate → loud execution-time error
    df2 = spark.createDataFrame(
        [(1, [9.0, 0.0]), (2, [0.1, 0.2])], "vec_id: long, embedding: array<float>"
    )
    with pytest.raises(Exception, match="max_abs"):
        semdedup(df2, k=1, iterations=0, dim=2).collect()


def test_kmeans_rejects_ragged_and_null_coordinates(spark, monkeypatch):
    # both assignment paths fail fast, identically, on malformed vectors
    import artigraph_spark.operators.similarity as sim

    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.3]), (3, [0.5, 0.6])],
        "vec_id: long, embedding: array<float>",
    )
    with pytest.raises(Exception, match="kmeans_exact: vector"):
        sim.kmeans_exact(df, k=2, iterations=0).collect()
    monkeypatch.setattr(sim, "_UNROLL_MAX_K", 0)
    with pytest.raises(Exception, match="kmeans_exact: vector"):
        sim.kmeans_exact(df, k=2, iterations=0).collect()
    dfn = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [None, 0.4])],
        "vec_id: long, embedding: array<float>",
    )
    with pytest.raises(Exception, match="kmeans_exact: vector"):
        sim.kmeans_exact(dfn, k=1, iterations=0).collect()


def test_kmeans_matmul_assignment_matches_unrolled(spark, monkeypatch):
    # The two assignment strategies (literal JVM arms vs Arrow numpy
    # matmul) must be bit-identical: same quantized ints, same (d, j)
    # tie-break. Force the matmul path by dropping the switch to 0.
    import artigraph_spark.operators.similarity as sim

    rows = [(i, [float((i * 7 + d * 3) % 11) / 11 - 0.4 for d in range(8)])
            for i in range(1, 41)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    a = {(r["vec_id"], r["cluster"], r["dist_q"])
         for r in sim.kmeans_exact(df, k=5, iterations=2, qbits=10).collect()}
    monkeypatch.setattr(sim, "_UNROLL_MAX_K", 0)
    b = {(r["vec_id"], r["cluster"], r["dist_q"])
         for r in sim.kmeans_exact(df, k=5, iterations=2, qbits=10).collect()}
    assert a == b
    assert len(a) == 40


def test_kmeans_matmul_tie_break_prefers_lowest_cluster(spark, monkeypatch):
    # Duplicate seed points make centroids 0 and 1 identical: every point
    # equidistant to both must land in cluster 0 on BOTH paths.
    import artigraph_spark.operators.similarity as sim

    rows = [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [0.5, 0.5]), (4, [0.52, 0.5])]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    a = {r["vec_id"]: r["cluster"]
         for r in sim.kmeans_exact(df, k=2, iterations=0, qbits=8).collect()}
    monkeypatch.setattr(sim, "_UNROLL_MAX_K", 0)
    b = {r["vec_id"]: r["cluster"]
         for r in sim.kmeans_exact(df, k=2, iterations=0, qbits=8).collect()}
    assert a == b
    assert a[1] == 0 and a[2] == 0


def test_connected_components_string_node_ids(spark):
    # Non-summable node ids must ride the join-based convergence probe —
    # the monotone decimal-sum probe only applies to integral/decimal ids.
    from artigraph_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "a: string, b: string"
    )
    comp = {r["node"]: r["component"]
            for r in connected_components(edges).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_empty_edges(spark):
    from artigraph_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([], "a: long, b: long")
    assert connected_components(edges).collect() == []


# ---------------------------------------------------- hypothesis properties

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@st.composite
def _embedding_rows(draw):
    ids = draw(
        st.lists(
            st.integers(min_value=0, max_value=10_000),
            min_size=3, max_size=14, unique=True,
        )
    )
    dim = draw(st.integers(min_value=2, max_value=5))
    vecs = [
        [
            round(draw(st.floats(min_value=-1.0, max_value=1.0,
                                 allow_nan=False, allow_infinity=False)), 3)
            for _ in range(dim)
        ]
        for _ in ids
    ]
    return list(zip(ids, vecs))


@settings(max_examples=10, deadline=None)
@given(_embedding_rows(), st.integers(min_value=1, max_value=3))
@pytest.mark.slow
def test_semdedup_invariants_property(spark, rows, k):
    from artigraph_spark.operators.similarity import semdedup

    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    dim = len(rows[0][1])
    lo = semdedup(df, k=k, iterations=1, qbits=8, threshold=(1, 2), dim=dim).collect()
    # one row per input, flags boolean-shaped, clusters within range
    assert sorted(r["vec_id"] for r in lo) == sorted(i for i, _ in rows)
    assert all(r["pruned"] in (0, 1) for r in lo)
    assert all(0 <= r["cluster"] < k for r in lo)
    # keeper rule: each cluster's min id survives (no smaller cluster-mate)
    by_cluster: dict[int, list] = {}
    for r in lo:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for members in by_cluster.values():
        assert min(members, key=lambda r: r["vec_id"])["pruned"] == 0
    # threshold monotonicity: pruning at cos >= 0.9 is a subset of >= 0.5
    hi = semdedup(df, k=k, iterations=1, qbits=8, threshold=(9, 10), dim=dim).collect()
    pruned_hi = {r["vec_id"] for r in hi if r["pruned"]}
    pruned_lo = {r["vec_id"] for r in lo if r["pruned"]}
    assert pruned_hi <= pruned_lo


_words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
)


@st.composite
def _doc_rows(draw):
    n = draw(st.integers(min_value=2, max_value=6))
    docs = []
    for i in range(n):
        toks = draw(st.lists(_words, min_size=0, max_size=30))
        docs.append((i + 1, " ".join(toks)))
    return docs


@settings(max_examples=10, deadline=None)
@given(_doc_rows())
def test_cdc_chunk_dedup_invariants_property(spark, docs):
    from artigraph_spark.operators.dedup import cdc_chunk_dedup_report

    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    rows = cdc_chunk_dedup_report(
        df, "doc_id", "text", window=2, mask_bits=1,
        max_df=100, min_shared=1,
    ).collect()
    ids = {i for i, _ in docs}
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert r["doc_a"] in ids and r["doc_b"] in ids
        assert 1 <= r["shared_chunks"] <= min(r["chunks_a"], r["chunks_b"])
        assert r["shared_tokens"] >= r["shared_chunks"]  # every chunk >= 1 token
    # exact-duplicate completeness: byte-identical non-empty docs must pair
    # with FULL containment (every distinct chunk shared)
    by_text: dict[str, list[int]] = {}
    for i, t in docs:
        if t.strip():
            by_text.setdefault(t, []).append(i)
    pairs = {(r["doc_a"], r["doc_b"]): r for r in rows}
    for twins in by_text.values():
        for x in twins:
            for y in twins:
                if x < y:
                    r = pairs[(x, y)]
                    assert r["shared_chunks"] == r["chunks_a"] == r["chunks_b"]


def test_streaming_gates_accept_ntz_timestamps(spark):
    # TimestampNTZType is watermark-supported; the boundary guard must not
    # reject it (it is a sibling of TimestampType, not a subclass).
    from pyspark.sql import functions as F

    from artigraph_spark.streaming import stateful_exact_dedup

    df = spark.createDataFrame(
        [(1, "h", "2024-01-01 00:00:00")], "doc_id long, h string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    # construction succeeds (no TypeError); plan-only check, no stream run
    out = stateful_exact_dedup(df, "doc_id", "h", ts_col="ts", ttl_seconds=60)
    assert "first" not in out.columns  # passthrough schema


def test_cosine_gate_drops_null_vectors(spark, tmp_path):
    # A NULL embedding is a data condition: the row is dropped, the query
    # survives (lsh_bucket's raise_error would otherwise poison-pill the
    # stream on every checkpoint restart).
    import pyarrow as pa
    import pyarrow.parquet as pq

    from artigraph_spark import streaming as stx

    d = tmp_path / "null_vec_src"
    d.mkdir()
    vec_t = pa.list_(pa.float32())
    pq.write_table(
        pa.table(
            {
                "vec_id": [1, 2],
                "embedding": pa.array([[0.1] * 64, None], type=vec_t),
            }
        ),
        d / "a.parquet",
    )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .parquet(str(d))
    )
    out = stx.run_stream_to_batch(
        stx.stateful_cosine_band_flags(stream, "vec_id", "embedding"),
        query_name="t_cos_null_vec",
        output_mode="append",
    )
    ids = {r["vec_id"] for r in out.collect()}
    assert ids == {1}  # null-vector row skipped, stream completed


def test_semdedup_auto_scales_k_with_corpus(spark):
    from artigraph_spark.operators import similarity as sim

    rows = [(i, [float(i % 7) / 7, float(i % 5) / 5]) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    # n=20, target 8 → k=ceil(20/8)=3; matches a direct semdedup(k=3)
    auto = {(r["vec_id"], r["cluster"], r["pruned"])
            for r in sim.semdedup_auto(
                df, target_cluster_size=8, min_k=2, dim=2, iterations=1
            ).collect()}
    direct = {(r["vec_id"], r["cluster"], r["pruned"])
              for r in sim.semdedup(df, k=3, dim=2, iterations=1).collect()}
    assert auto == direct
    # clamps: tiny corpus never exceeds n; floor at min_k
    small = spark.createDataFrame(rows[:2], "vec_id: long, embedding: array<float>")
    out = sim.semdedup_auto(small, target_cluster_size=1, min_k=1, dim=2,
                            iterations=0)
    assert out.count() == 2
    import pytest as _pt
    with _pt.raises(ValueError, match="target_cluster_size"):
        sim.semdedup_auto(df, target_cluster_size=0)
    with _pt.raises(ValueError, match="min_k"):
        sim.semdedup_auto(df, min_k=5, max_k=2)
