"""Round-12 regression tests: the r11 verdict/advice follow-ups.

Each test pins a behavior added or fixed in round 12 — the
restricted_mean_survival integral-duration / negative-duration guards
(the r11 advice medium item: fractional durations were silently
HALF_UP-rounded by the DECIMAL(18,0) width cast) and the fused
kaplan_meier prefix walk (values unchanged, one bucketing instead of
two). The logrank_test lineage-cut test lives in test_prefix_gate.py, and
the chained-pass reuse and monotone kept bucket id tests in
test_rank_walks.py.
"""

import pytest
from pyspark.sql import functions as F


# --- restricted_mean_survival guards -----------------------------------------


def _km(spark, rows):
    from artigraph_spark.operators.timeseries import kaplan_meier

    df = spark.createDataFrame(rows, "duration: long, observed: int")
    return kaplan_meier(df, "duration", "observed")


def test_rmst_rejects_fractional_duration_type(spark):
    from artigraph_spark.operators.timeseries import restricted_mean_survival

    curve = spark.createDataFrame(
        [(1.5, 0.9), (2.5, 0.8)], "t: double, s: double"
    )
    with pytest.raises(TypeError, match="integral"):
        restricted_mean_survival(curve, "t", "s", horizon=10)


def test_rmst_rejects_decimal_duration_type(spark):
    from artigraph_spark.operators.timeseries import restricted_mean_survival

    curve = spark.createDataFrame([(1.5, 0.9)], "t: double, s: double").select(
        F.col("t").cast("decimal(10,1)").alias("t"), "s"
    )
    with pytest.raises(TypeError, match="integral"):
        restricted_mean_survival(curve, "t", "s", horizon=10)


def test_rmst_rejects_negative_duration_at_execution(spark):
    from artigraph_spark.operators.timeseries import restricted_mean_survival

    curve = spark.createDataFrame(
        [(-3, 0.9), (2, 0.8)], "t: long, s: double"
    )
    out = restricted_mean_survival(curve, "t", "s", horizon=10)
    with pytest.raises(Exception, match="negative duration"):
        out.collect()


def test_rmst_hand_value_still_exact(spark):
    # curve: S=0.75 from t=2, S=0.25 from t=5; τ=8.
    # RMST = 1·2 + 0.75·3 + 0.25·3 = 5.0  (leading segment + steps)
    from artigraph_spark.operators.timeseries import restricted_mean_survival

    curve = spark.createDataFrame(
        [(2, 0.75), (5, 0.25)], "t: long, s: double"
    )
    got = restricted_mean_survival(curve, "t", "s", horizon=8).collect()
    assert len(got) == 1
    assert got[0]["rmst_r"] == pytest.approx(5.0, abs=1e-9)
    assert got[0]["horizon"] == 8


# --- minhash_signatures_shingled (the oracle-checkable shingle MinHash) -------


def test_shingled_signatures_identical_token_streams_match(spark):
    from artigraph_spark.operators.dedup import minhash_signatures_shingled

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha  beta\tgamma delta"),  # same tokens, odd whitespace
            (3, "delta gamma beta alpha"),  # same set, DIFFERENT shingles
        ],
        "doc_id: long, text: string",
    )
    rows = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(8))
        for r in minhash_signatures_shingled(
            df, "doc_id", "text", num_hashes=8
        ).collect()
    }
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]  # order-sensitive, unlike token-set minhash


def test_shingled_signatures_short_and_empty_docs(spark):
    from artigraph_spark.operators.dedup import minhash_signatures_shingled

    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two"), (3, "one"), (4, ""), (5, None)],
        "doc_id: long, text: string",
    )
    out = minhash_signatures_shingled(df, "doc_id", "text", num_hashes=4).collect()
    assert len(out) == 5  # token-less docs still get (fallback) signatures
    rows = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(4)) for r in out}
    assert rows[1] == rows[2]  # identical 2-token docs share the partial shingle
    assert rows[1] != rows[3]
    assert rows[4] != rows[5]  # id-derived fallbacks differ per doc


def test_shingled_lsh_is_discriminative_on_stopword_overlap(spark):
    # Token-SET signatures collide on shared stopwords; shingles must not.
    from artigraph_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_shingled,
    )

    docs = [
        (i, f"the quick topic{i} of a report on item{i} and the subject{i}")
        for i in range(20)
    ]
    docs.append((100, "the quick topic5 of a report on item5 and the subject5"))
    df = spark.createDataFrame(docs, "doc_id: long, text: string")
    sigs = minhash_signatures_shingled(df, "doc_id", "text", num_hashes=16)
    pairs = lsh_candidate_pairs(sigs, "doc_id", num_hashes=16, bands=4).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(5, 100)}


# --- content-defined chunking (the shift-robust dedup/fingerprint member) -----


def test_cdc_chunks_shift_robust(spark):
    # THE property fixed-k segmentation lacks: a prefix edit only changes
    # the chunk(s) near the edit — downstream fingerprints survive.
    from artigraph_spark.operators.text import content_defined_chunks

    base = "the quick brown fox jumps over the lazy dog again and again until done"
    df = spark.createDataFrame(
        [(1, base), (2, "inserted " + base)], "doc_id: long, text: string"
    )
    out = content_defined_chunks(df, "doc_id", "text", window=3, mask_bits=2)
    rows = out.collect()
    f1 = {r["chunk_fp"] for r in rows if r["doc_id"] == 1}
    f2 = {r["chunk_fp"] for r in rows if r["doc_id"] == 2}
    assert len(f1) >= 2
    assert len(f1 & f2) >= len(f1) - 1  # at most the first chunk differs


def test_cdc_chunks_reassemble_and_count(spark):
    from artigraph_spark.operators.text import content_defined_chunks

    text = "a b c d e f g h i j k l m n o p"
    df = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    rows = sorted(
        content_defined_chunks(df, "doc_id", "text", window=3, mask_bits=1).collect(),
        key=lambda r: r["chunk_no"],
    )
    assert " ".join(r["chunk"] for r in rows) == text
    assert sum(r["chunk_tokens"] for r in rows) == 16
    assert [r["chunk_no"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(r["chunk_tokens"] >= 1 for r in rows)


def test_cdc_chunks_short_and_empty_docs(spark):
    from artigraph_spark.operators.text import content_defined_chunks

    df = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, None)], "doc_id: long, text: string"
    )
    rows = content_defined_chunks(df, "doc_id", "text").collect()
    # below-window docs are one whole-document chunk; token-less docs
    # emit nothing (fingerprinting operator, not a rebuild)
    assert {(r["doc_id"], r["chunk_no"], r["chunk"]) for r in rows} == {
        (1, 1, "one two")
    }


def test_cdc_chunks_param_guards(spark):
    from artigraph_spark.operators.text import content_defined_chunks

    df = spark.createDataFrame([(1, "a b")], "doc_id: long, text: string")
    with pytest.raises(ValueError, match="window"):
        content_defined_chunks(df, "doc_id", "text", window=0)
    with pytest.raises(ValueError, match="mask_bits"):
        content_defined_chunks(df, "doc_id", "text", mask_bits=21)


def test_cdc_chunks_base_guard(spark):
    from artigraph_spark.operators.text import content_defined_chunks

    df = spark.createDataFrame([(1, "a b")], "doc_id: long, text: string")
    with pytest.raises(ValueError, match="base"):
        content_defined_chunks(df, "doc_id", "text", base=1 << 33)
