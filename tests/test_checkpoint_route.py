"""Every engine lineage cut follows the context's checkpoint directory:
with one set, a registered query's cuts land there as reliable
checkpoints and give the same rows as the executor-local route, and no
operator ever writes the directory itself (it is context-wide state
shared by every thread and session). A reliable cut's files go once its
frame is collected."""

from __future__ import annotations

import gc
import os
import time

from pyspark.sql import functions as F

from artigraph_spark.sources import DEFAULT_SF_DIR

# The sf0.001 fixture, next to the default scale factor's directory.
SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), "sf0.001")


def _checkpointed_rdds(root):
    return {d for _, ds, _ in os.walk(root) for d in ds if d.startswith("rdd-")}


def test_registered_query_cuts_follow_checkpoint_dir(spark, request):
    from artigraph_spark.queries import queries

    q = queries()["dedup_clusters"]
    local = sorted(map(tuple, q(spark, SF).collect()))
    assert local

    ck = request.getfixturevalue("kept_cuts")
    before = spark.sparkContext.getCheckpointDir()
    reliable = sorted(map(tuple, q(spark, SF).collect()))
    assert reliable == local
    # the signature cut and the connected-components rounds
    assert _checkpointed_rdds(ck)
    assert spark.sparkContext.getCheckpointDir() == before


def _graph_calls(spark):
    from artigraph_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3)], "s long, d long"
    )
    weighted = edges.withColumn("w", F.lit(2))
    seeds = spark.createDataFrame([(1,)], "n long")
    baskets = spark.createDataFrame(
        [(b, i) for b in range(6) for i in range(b % 3 + 2)], "b long, i long"
    )
    return {
        "pagerank": lambda: G.pagerank(edges, "s", "d", iterations=5),
        "triangle_counts": lambda: G.triangle_counts(edges, "s", "d"),
        "support_pairs": lambda: G.support_pairs(baskets, "b", "i", top_k=5),
        "bfs_hops": lambda: G.bfs_hops(edges, "s", "d", seeds, max_hops=3),
        "adamic_adar": lambda: G.adamic_adar(edges, "s", "d", top_k=5),
        "hits": lambda: G.hits(edges, "s", "d", iterations=2),
        "k_core": lambda: G.k_core(edges, "s", "d", k=2),
        "association_rules": lambda: G.association_rules(
            baskets, "b", "i", min_pair_cnt=1, top_k=5
        ),
        "shortest_paths_bounded": lambda: G.shortest_paths_bounded(
            weighted, "s", "d", "w", seeds, max_hops=3
        ),
    }


def _dedup_calls(spark):
    from artigraph_spark.operators import dedup as D
    from artigraph_spark.operators.similarity import semdedup, semdedup_against

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "an entirely different sentence with no shared words at all"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "a long, b long")
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.1]), (2, [0.99, 0.01, 0.1]), (10, [0.0, 1.0, -0.1])],
        "vec_id: long, embedding: array<float>",
    )
    return {
        "connected_components": lambda: D.connected_components(pairs),
        "dedup_clusters": lambda: D.dedup_clusters(docs, "doc_id", "text"),
        "cdc_chunk_dedup_report": lambda: D.cdc_chunk_dedup_report(
            docs, "doc_id", "text", window=2, mask_bits=1, min_shared=1
        ),
        "duplicate_spans": lambda: D.duplicate_spans(docs, "doc_id", "text", min_tokens=4),
        "remove_duplicate_spans": lambda: D.remove_duplicate_spans(
            docs, "doc_id", "text", min_tokens=4
        ),
        "semdedup": lambda: semdedup(
            vecs, k=2, iterations=2, qbits=8, threshold=(9, 10), dim=3
        ),
        "semdedup_against": lambda: semdedup_against(
            vecs, vecs, dim=3, n_planes=3, n_tables=2, threshold=(9, 10)
        ),
    }


def test_operators_never_write_the_checkpoint_dir(spark, kept_cuts):
    sc = spark.sparkContext
    want = sc.getCheckpointDir()
    assert want is not None
    calls = {**_graph_calls(spark), **_dedup_calls(spark)}
    for name, call in calls.items():
        call().collect()
        assert sc.getCheckpointDir() == want, name
    assert _checkpointed_rdds(kept_cuts)


def test_dropped_reliable_cut_is_cleaned_up(spark, reliable_cuts):
    # get_spark sets spark.cleaner.referenceTracking.cleanCheckpoints, so
    # the ContextCleaner deletes a cut's rdd-* directory once the JVM
    # collects the frame; without it the directory stays for good.
    from artigraph_spark.operators._checkpoint import checkpoint

    cut = checkpoint(spark.range(100).withColumn("x", F.col("id") * 2))
    assert cut.count() == 100
    made = _checkpointed_rdds(reliable_cuts)
    assert made
    del cut
    deadline = time.monotonic() + 10
    while _checkpointed_rdds(reliable_cuts) & made and time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.1)
    assert not _checkpointed_rdds(reliable_cuts) & made


def _udf_evaluations(spark, cut_of):
    # A Python UDF counts its own evaluations: (at definition, in total).
    calls = spark.sparkContext.accumulator(0)

    def tick(x):
        calls.add(1)
        return x

    df = spark.range(100).withColumn("x", F.udf(tick, "long")(F.col("id")))
    cut = cut_of(df)
    at_definition = calls.value
    assert sorted(r.x for r in cut.collect()) == list(range(100))
    return at_definition, calls.value


def test_reliable_cut_computes_its_frame_once(spark, reliable_cuts):
    # A lazy reliable checkpoint computes the frame for the first action
    # and again for Spark's checkpoint write (0 at definition, 200 in
    # total); the engine's reliable cut is eager and computes it once.
    from artigraph_spark.operators._adaptive import cut_frame
    from artigraph_spark.operators._checkpoint import checkpoint

    assert _udf_evaluations(spark, lambda df: checkpoint(df, eager=False)) == (100, 100)
    assert _udf_evaluations(spark, cut_frame) == (100, 100)
    assert _checkpointed_rdds(reliable_cuts)


def test_local_lazy_cut_computes_its_frame_at_first_action(spark):
    from artigraph_spark.operators._checkpoint import checkpoint

    assert _udf_evaluations(spark, lambda df: checkpoint(df, eager=False)) == (0, 100)
