"""Streaming extension: stream/batch parity on the events fixture.

The batch twins are the oracle-checked queries in
artigraph_spark.queries.timeseries; here the SAME aggregations run as
Structured Streaming and must produce identical results on the bounded
fixture stream.
"""

import pytest

from artigraph_spark import streaming as stx
from artigraph_spark.queries import queries

SF_DIR = "/root/testdata/sf0.001"


def _canon(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize(
    "stream_fn,batch_name,cols",
    [
        (stx.tumbling_counts, "window_tumbling", ["window_start", "event_type", "n", "total_value"]),
        (stx.sliding_counts, "window_sliding", ["window_start", "n", "total_value"]),
    ],
)
def test_stream_batch_parity(spark, stream_fn, batch_name, cols):
    events = stx.read_stream(spark, SF_DIR, "events")
    result = stx.run_stream_to_batch(
        stream_fn(events), query_name=f"t_{batch_name}", output_mode="complete"
    )
    batch = queries()[batch_name](spark, SF_DIR)
    assert _canon(result, cols) == _canon(batch, cols)


def test_session_stream_runs(spark):
    """Native session_window streaming aggregation completes and covers every
    user (exact gap semantics differ from the batch lag+cumsum twin only in
    boundary conventions, so parity here is structural)."""
    events = stx.read_stream(spark, SF_DIR, "events")
    result = stx.run_stream_to_batch(
        stx.session_counts(events), query_name="t_sessions", output_mode="complete"
    )
    rows = result.collect()
    assert len(rows) > 0
    assert {r["user_id"] for r in rows} == set(range(15))
    assert all(r["n_events"] >= 1 for r in rows)


def test_stream_to_partitioned_sink(spark, tmp_path):
    events = stx.read_stream(spark, SF_DIR, "events")
    import pyspark.sql.functions as F

    enriched = events.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    q = stx.stream_to_partitioned_sink(
        enriched,
        str(tmp_path / "out"),
        partition_by=("day",),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    written = spark.read.parquet(str(tmp_path / "out"))
    assert written.count() == 1000
    assert "day" in written.columns
    assert "epoch" in written.columns  # per-epoch idempotency partition

    # Epoch REPLAY must not double rows: re-running the same bounded stream
    # from a fresh checkpoint re-delivers the same epoch ids into the same
    # sink path; dynamic epoch-partition overwrite makes that a rewrite,
    # not an append (the crash-between-write-and-commit case).
    q2 = stx.stream_to_partitioned_sink(
        enriched,
        str(tmp_path / "out"),
        partition_by=("day",),
        checkpoint=str(tmp_path / "ckpt2"),
    )
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1000


def test_stateful_user_totals_parity(spark, tmp_path):
    """applyInPandasWithState: per-user running totals carried across REAL
    micro-batch boundaries (3 input files, 1 per trigger) must converge to
    the batch groupBy totals exactly (fixed-point sums both sides)."""
    from pyspark.sql import functions as F

    from artigraph_spark.functions import dsum
    from artigraph_spark.sources import load

    events = load(spark, SF_DIR, "events")
    src = str(tmp_path / "events_split")
    events.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    result = stx.run_stream_to_batch(
        stx.stateful_user_totals(stream),
        query_name="t_stateful",
        output_mode="update",
    )
    # Update mode emits one row per user per batch that touched it; the
    # final state is the row with the max n_events per user.
    final = (
        result.groupBy("user_id")
        .agg(F.max_by("total_value", "n_events").alias("total_value"),
             F.max("n_events").alias("n_events"))
    )
    batch = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"), dsum("value").alias("total_value")
    )
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in final.collect()}
    want = {r["user_id"]: (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert got == want


def test_stateless_pipeline_ops_run_on_streams(spark):
    """The round-4 corpus ops that are pure projections/filters
    (normalize_text, stratified_sample) must compose onto a streaming
    DataFrame unchanged and agree with their batch results — the
    cleaning/mixing stages of an ingest pipeline are streaming-safe."""
    from pyspark.sql import functions as F

    from artigraph_spark.operators.packing import stratified_sample
    from artigraph_spark.operators.text import normalize_text

    def transform(df):
        cleaned = df.select(
            "doc_id", normalize_text(F.col("text")).alias("t"), "lang"
        )
        return stratified_sample(cleaned, "lang", {"en": 0.5, "de": 0.3}, F.col("doc_id"))

    stream = transform(stx.read_stream(spark, SF_DIR, "documents"))
    assert stream.isStreaming
    got = stx.run_stream_to_batch(stream, query_name="t_pipeline_ops", output_mode="append")
    from artigraph_spark.sources import load

    want = transform(load(spark, SF_DIR, "documents"))
    assert _canon(got, ["doc_id", "t", "lang"]) == _canon(want, ["doc_id", "t", "lang"])
    assert got.count() > 0


def test_stateful_exact_dedup_stream(spark):
    """Streaming first-occurrence dedup: one FULL row per distinct content
    hash. The fixture is a single parquet file → one micro-batch, so the
    within-batch id-min rule coincides with the global min and parity with
    batch dedup_exact is exact. (Across multiple batches the operator's
    contract is first-SEEN wins, not global min — asserted in the
    two-batch test below.)"""
    from pyspark.sql import functions as F

    from artigraph_spark.sources import load

    docs = stx.read_stream(spark, SF_DIR, "documents", max_files_per_trigger=1)
    hashed = docs.select(
        F.col("doc_id"), F.col("text"), F.sha2(F.col("text"), 256).alias("h")
    )
    out = stx.run_stream_to_batch(
        stx.stateful_exact_dedup(hashed, "doc_id", "h"),
        query_name="t_stream_dedup",
        output_mode="append",
    )
    assert set(out.columns) == {"doc_id", "text", "h"}  # full row passes through
    batch = (
        load(spark, SF_DIR, "documents")
        .select(F.col("doc_id"), F.sha2(F.col("text"), 256).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    assert _canon(out, ["h", "doc_id"]) == _canon(batch, ["h", "doc_id"])
    assert out.count() == out.select("h").distinct().count()


def test_stateful_exact_dedup_first_batch_wins(spark, tmp_path):
    """Across micro-batches the contract is first-SEEN wins: a duplicate
    arriving in a later batch is dropped even when its id is smaller."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F  # noqa: F401

    # Two files, forced into separate micro-batches; the duplicate text
    # appears with id 10 in file A (arrives first lexically) and id 1 in B.
    d = tmp_path / "stream_src"
    d.mkdir()
    pq.write_table(pa.table({"doc_id": [10], "text": ["dup text"]}), d / "a.parquet")
    pq.write_table(
        pa.table({"doc_id": [1, 2], "text": ["dup text", "fresh"]}), d / "b.parquet"
    )
    # The file source orders batches by modification time; same-millisecond
    # writes would leave the order (and so the test) to chance. Pin it.
    import os

    os.utime(d / "a.parquet", ns=(1_000_000_000, 1_000_000_000))
    os.utime(d / "b.parquet", ns=(2_000_000_000_000_000_000, 2_000_000_000_000_000_000))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .select("doc_id", "text", F.sha2(F.col("text"), 256).alias("h"))
    )
    out = stx.run_stream_to_batch(
        stx.stateful_exact_dedup(stream, "doc_id", "h"),
        query_name="t_stream_dedup_batches",
        output_mode="append",
    )
    rows = {r["text"]: r["doc_id"] for r in out.collect()}
    assert rows == {"dup text": 10, "fresh": 2}  # first-seen id kept, not min


def test_stateful_exact_dedup_null_ids_do_not_kill_query(spark, tmp_path):
    """pandas idxmin raises on an all-NA series — one micro-batch whose ids
    are all NULL for a hash group must not crash the streaming query.
    NULL-id rows are dropped (they cannot win 'minimum id'); a later
    non-NULL arrival of the same hash is still admitted."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = tmp_path / "null_src"
    d.mkdir()
    # Batch A: hash 'ghost' arrives with ONLY a NULL id; 'solid' is normal.
    pq.write_table(
        pa.table(
            {"doc_id": pa.array([None, 7], type=pa.int64()), "text": ["ghost", "solid"]}
        ),
        d / "a.parquet",
    )
    # Batch B: 'ghost' re-arrives with a real id — admitted (never emitted).
    pq.write_table(
        pa.table({"doc_id": pa.array([3], type=pa.int64()), "text": ["ghost"]}),
        d / "b.parquet",
    )
    import os

    os.utime(d / "a.parquet", ns=(1_000_000_000, 1_000_000_000))
    os.utime(d / "b.parquet", ns=(2_000_000_000_000_000_000, 2_000_000_000_000_000_000))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .select("doc_id", "text", F.sha2(F.col("text"), 256).alias("h"))
    )
    out = stx.run_stream_to_batch(
        stx.stateful_exact_dedup(stream, "doc_id", "h"),
        query_name="t_stream_dedup_nulls",
        output_mode="append",
    )
    rows = {r["text"]: r["doc_id"] for r in out.collect()}
    assert rows == {"solid": 7, "ghost": 3}


def _ts(h, m=0):
    import datetime

    return datetime.datetime(2024, 1, 1, h, m, 0)


@pytest.mark.slow
def test_stateful_exact_dedup_ttl_parity_and_bounded_state(spark, tmp_path):
    """Bounded-state dedup (event-time TTL): (1) with a TTL longer than the
    stream, results match the exact NoTimeout mode; (2) expired keys are
    EVICTED — state stays bounded by the TTL horizon — and a duplicate
    arriving after expiry is re-admitted (the documented trade)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = tmp_path / "ttl_src"
    d.mkdir()
    batches = [
        # (file, ids, texts, timestamps)
        ("a.parquet", [10, 11], ["dup", "x1"], [_ts(10), _ts(10)]),
        ("b.parquet", [20], ["filler"], [_ts(12)]),
        ("c.parquet", [30], ["filler2"], [_ts(12, 10)]),
        ("d.parquet", [40], ["dup"], [_ts(12, 30)]),
    ]
    for i, (name, ids, texts, tss) in enumerate(batches):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, type=pa.int64()),
                    "text": pa.array(texts),
                    "ts": pa.array(tss, type=pa.timestamp("us")),
                }
            ),
            d / name,
        )
        ns = (i + 1) * 1_000_000_000_000_000
        __import__("os").utime(d / name, ns=(ns, ns))

    def run(ttl):
        stream = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
            .select("doc_id", "text", "ts", F.sha2(F.col("text"), 256).alias("h"))
        )
        out = stx.stateful_exact_dedup(
            stream, "doc_id", "h", ts_col="ts", ttl_seconds=ttl
        )
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(f"t_ttl_{ttl}")
            .start()
        )
        try:
            q.processAllAvailable()
            state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        finally:
            q.stop()
        return spark.sql(f"SELECT doc_id, text FROM t_ttl_{ttl}").collect(), state_rows

    # TTL far beyond the stream's span: behaves exactly like NoTimeout —
    # every hash emitted once, first-seen wins, nothing evicted.
    rows, state_rows = run(10**7)
    assert sorted((r["text"], r["doc_id"]) for r in rows) == [
        ("dup", 10), ("filler", 20), ("filler2", 30), ("x1", 11),
    ]
    assert state_rows == 4  # all four distinct hashes retained

    # TTL 600 s: 'dup'/'x1' (ts 10:00, timeout 10:10) expire once the
    # watermark crosses 11:59:50 (batch c) — so state never holds all four
    # hashes at once, and the late 'dup' at 12:30 is re-admitted.
    rows, state_rows = run(600)
    counted = sorted((r["text"], r["doc_id"]) for r in rows)
    assert counted == [
        ("dup", 10), ("dup", 40), ("filler", 20), ("filler2", 30), ("x1", 11),
    ]
    assert state_rows <= 3  # evictions happened: bounded by the TTL horizon


def test_stateful_exact_dedup_ttl_null_ts_does_not_kill_query(spark, tmp_path):
    """In bounded mode a NULL event time would poison the TTL arithmetic
    (NaT.timestamp() raises, killing the query). NULL-ts rows are dropped;
    the same hash arriving later with a real timestamp is still admitted."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = tmp_path / "nullts_src"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 7], type=pa.int64()),
                "ts": pa.array([None, _ts(1)], type=pa.timestamp("us")),
                "text": ["ghost", "solid"],
            }
        ),
        d / "a.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([3], type=pa.int64()),
                "ts": pa.array([_ts(2)], type=pa.timestamp("us")),
                "text": ["ghost"],
            }
        ),
        d / "b.parquet",
    )
    import os

    os.utime(d / "a.parquet", ns=(1_000_000_000, 1_000_000_000))
    os.utime(d / "b.parquet", ns=(2_000_000_000_000_000_000, 2_000_000_000_000_000_000))
    stream = (
        spark.readStream.schema("doc_id long, ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .select("doc_id", "ts", "text", F.sha2(F.col("text"), 256).alias("h"))
    )
    out = stx.run_stream_to_batch(
        stx.stateful_exact_dedup(stream, "doc_id", "h", ts_col="ts", ttl_seconds=86400),
        query_name="t_stream_dedup_nullts",
        output_mode="append",
    )
    rows = {r["text"]: r["doc_id"] for r in out.collect()}
    # 'ghost' batch-A row had NULL ts → dropped; batch-B real-ts row admitted.
    assert rows == {"solid": 7, "ghost": 3}


def test_stateless_round5_ops_run_on_streams(spark):
    """Round-5 per-row ops (redact_pii, chunk_documents, upsample_domains)
    are projections/explodes with no aggregation: they must compose onto a
    streaming DataFrame unchanged and agree with their batch results."""
    from pyspark.sql import functions as F

    from artigraph_spark.operators.packing import upsample_domains
    from artigraph_spark.operators.text import chunk_documents, redact_pii

    def transform(df):
        scrubbed = df.select(
            "doc_id", redact_pii(F.col("text")).alias("text"), "source"
        )
        up = upsample_domains(
            scrubbed, "source", {"src0": 2.0, "src1": 1.0}, F.col("doc_id")
        )
        return chunk_documents(
            up.select("doc_id", F.concat_ws(" ", "text", F.col("copy_idx").cast("string")).alias("text")),
            "doc_id",
            "text",
            chunk_size=16,
            stride=12,
        )
    stream = transform(stx.read_stream(spark, SF_DIR, "documents"))
    assert stream.isStreaming
    got = stx.run_stream_to_batch(stream, query_name="t_r5_ops", output_mode="append")
    from artigraph_spark.sources import load

    want = transform(load(spark, SF_DIR, "documents"))
    cols = ["doc_id", "chunk_idx", "chunk_text", "n_tokens"]
    assert _canon(got, cols) == _canon(want, cols)
    assert got.count() > 0


def test_count_min_sketch_builds_on_streams(spark):
    """The count-min sketch build is explode + groupBy-count — in streaming
    it runs as a stateful aggregation in complete mode and must produce the
    same depth×bucket cells (and therefore the same estimates) as the batch
    build over the same file."""
    from pyspark.sql import functions as F

    from artigraph_spark.operators.sketches import count_min_sketch
    from artigraph_spark.sources import load

    ev = stx.read_stream(spark, SF_DIR, "events")
    stream_sketch = count_min_sketch(ev, "user_id", width=64, depth=3)
    assert stream_sketch.isStreaming
    got = stx.run_stream_to_batch(
        stream_sketch, query_name="t_cms_stream", output_mode="complete"
    )
    want = count_min_sketch(load(spark, SF_DIR, "events"), "user_id", width=64, depth=3)
    assert _canon(got, ["depth_id", "bucket", "cnt"]) == _canon(
        want, ["depth_id", "bucket", "cnt"]
    )
    assert got.count() > 0


def test_hll_sketch_builds_on_streams(spark):
    """The HLL register build is a projection + groupBy-max — as a streaming
    stateful aggregation in complete mode it must produce identical
    registers (and so the identical estimate) to the batch build."""
    from artigraph_spark.operators.sketches import hll_sketch
    from artigraph_spark.sources import load

    ev = stx.read_stream(spark, SF_DIR, "events")
    stream_sk = hll_sketch(ev, "user_id", m=256)
    assert stream_sk.isStreaming
    got = stx.run_stream_to_batch(
        stream_sk, query_name="t_hll_stream", output_mode="complete"
    )
    want = hll_sketch(load(spark, SF_DIR, "events"), "user_id", m=256)
    assert _canon(got, ["register", "max_rho"]) == _canon(want, ["register", "max_rho"])
    assert got.count() > 0


def _interval_pair_frames(spark, make):
    """Left = page_view events, right = purchase events (aliased columns),
    from the same bounded source; `make(name)` builds each side."""
    from pyspark.sql import functions as F

    src_l = make("events")
    src_r = make("events")
    left = src_l.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("l_id"),
        F.col("ts").alias("l_ts"),
    )
    right = src_r.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("r_id"),
        F.col("ts").alias("r_ts"),
    )
    return left, right


def test_interval_join_stream_batch_parity(spark):
    """Stream-stream interval join (purchases within 6 h of a view,
    same user) must match the identical batch-batch call on the bounded
    fixture."""
    from artigraph_spark.sources import load

    lb, rb = _interval_pair_frames(spark, lambda n: load(spark, SF_DIR, n))
    batch = stx.interval_join(
        lb, rb, key="user_id", left_time="l_ts", right_time="r_ts", upper="6 hours"
    )
    ls, rs = _interval_pair_frames(spark, lambda n: stx.read_stream(spark, SF_DIR, n))
    streamed = stx.run_stream_to_batch(
        stx.interval_join(
            ls, rs, key="user_id", left_time="l_ts", right_time="r_ts", upper="6 hours"
        ),
        query_name="t_interval_join",
        output_mode="append",
    )
    cols = ["user_id", "l_id", "r_id"]
    assert _canon(streamed, cols) == _canon(batch, cols)
    rows = batch.count()
    assert rows > 0  # fixture actually exercises the window
    # semantics: right strictly after left, within the bound
    from pyspark.sql import functions as F

    bad = batch.filter(
        (F.col("r_ts") <= F.col("l_ts"))
        | (F.col("r_ts") > F.col("l_ts") + F.expr("INTERVAL 6 hours"))
    ).count()
    assert bad == 0


def test_interval_join_rejects_unknown_type(spark):
    from artigraph_spark.sources import load

    lb, rb = _interval_pair_frames(spark, lambda n: load(spark, SF_DIR, n))
    with pytest.raises(ValueError, match="unsupported interval join"):
        stx.interval_join(
            lb, rb, key="user_id", left_time="l_ts", right_time="r_ts",
            join_type="fullOuter",
        )


def test_interval_join_allows_shared_time_column_name(spark):
    """key and time columns are frame-qualified internally, so both sides
    may call their time column the same thing."""
    from pyspark.sql import functions as F

    l = spark.createDataFrame([(1, 100)], "k long, ts long").select(
        "k", F.timestamp_seconds("ts").alias("ts")
    )
    r = spark.createDataFrame([(1, 150), (1, 5000)], "k long, ts long").select(
        "k", F.timestamp_seconds("ts").alias("ts")
    )
    out = stx.interval_join(l, r, key="k", left_time="ts", right_time="ts", upper="2 minutes")
    assert out.columns == ["k", "ts", "ts_right"]  # both times referencable
    rows = out.collect()
    assert len(rows) == 1  # 150s within 2 min of 100s; 5000s outside
    assert rows[0]["ts_right"] > rows[0]["ts"]


def test_sketch_state_sink_multi_epoch_merge(spark, tmp_path):
    """Per-micro-batch CMS partials merged into persisted state equal the
    batch sketch over all data; superseded generations are pruned; a
    crash-replayed epoch (same epoch id re-delivered) is skipped."""
    import os

    import pyspark.sql.functions as F

    from artigraph_spark.operators.sketches import count_min_sketch
    from artigraph_spark.streaming import read_sketch_state, sketch_state_sink

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    all_rows = [(i, i % 23) for i in range(300)]
    for part in range(3):  # three files → three micro-batches
        spark.createDataFrame(
            all_rows[part * 100 : (part + 1) * 100], ["row_id", "user_id"]
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("row_id long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    build = lambda df: count_min_sketch(df, "user_id", width=64, depth=3, seed=5)
    merge = lambda df: df.groupBy("depth_id", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    q = sketch_state_sink(
        stream,
        build=build,
        merge=merge,
        state_path=state,
        checkpoint=str(tmp_path / "ck1"),
    )
    q.processAllAvailable()
    q.stop()

    expected = sorted(
        map(
            tuple,
            count_min_sketch(
                spark.createDataFrame(all_rows, ["row_id", "user_id"]),
                "user_id",
                width=64,
                depth=3,
                seed=5,
            ).collect(),
        )
    )
    got = sorted(map(tuple, read_sketch_state(spark, state).collect()))
    assert got == expected
    gens = [n for n in os.listdir(state) if n.startswith("sketch-")]
    assert len(gens) == 1  # superseded generations pruned

    # Same-checkpoint restart (the real recovery contract): a 4th file
    # arrives while the query is down; the restarted query merges ONLY the
    # new data on top of the live state — no reprocessing, no double
    # counting. (Fresh-checkpoint restarts reprocess by definition; the
    # per-epoch guard exists for foreachBatch's crash re-delivery of the
    # in-flight epoch, whose generation directory is exactly what it
    # finds committed.)
    spark.createDataFrame(
        [(1000 + i, i % 23) for i in range(100)], ["row_id", "user_id"]
    ).coalesce(1).write.mode("append").parquet(src)
    q2 = sketch_state_sink(
        stream,
        build=build,
        merge=merge,
        state_path=state,
        checkpoint=str(tmp_path / "ck1"),
    )
    q2.processAllAvailable()
    q2.stop()
    expected4 = sorted(
        map(
            tuple,
            count_min_sketch(
                spark.createDataFrame(
                    all_rows + [(1000 + i, i % 23) for i in range(100)],
                    ["row_id", "user_id"],
                ),
                "user_id",
                width=64,
                depth=3,
                seed=5,
            ).collect(),
        )
    )
    got4 = sorted(map(tuple, read_sketch_state(spark, state).collect()))
    assert got4 == expected4


def test_read_sketch_state_raises_when_empty(spark, tmp_path):
    import pytest as _pytest

    from artigraph_spark.streaming import read_sketch_state

    with _pytest.raises(FileNotFoundError, match="no committed sketch"):
        read_sketch_state(spark, str(tmp_path / "nope"))


def test_sketch_state_sink_refuses_reset_checkpoint(spark, tmp_path):
    """Regression (r6 code review): a stream restarted with a FRESH
    checkpoint against existing state (epoch ids behind the live
    generation) must fail loudly, not double-merge."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from artigraph_spark.operators.sketches import count_min_sketch
    from artigraph_spark.streaming import sketch_state_sink

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    for part in range(3):
        spark.createDataFrame(
            [(part * 10 + i, i % 5) for i in range(10)], ["row_id", "user_id"]
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("row_id long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    build = lambda df: count_min_sketch(df, "user_id", width=16, depth=2)
    merge = lambda df: df.groupBy("depth_id", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    q = sketch_state_sink(
        stream, build=build, merge=merge,
        state_path=state, checkpoint=str(tmp_path / "ck1"),
    )
    q.processAllAvailable()
    q.stop()
    # fresh checkpoint → the checkpoint-identity marker (r7) refuses the
    # foreign lineage up front, surfacing as a StreamingQueryException
    q2 = sketch_state_sink(
        stream, build=build, merge=merge,
        state_path=state, checkpoint=str(tmp_path / "ck2"),
    )
    with _pytest.raises(Exception, match="built by stream checkpoint"):
        q2.processAllAvailable()
    q2.stop()


def test_sketch_state_sink_refuses_foreign_checkpoint_at_epoch_zero(
    spark, tmp_path
):
    """Regression (r7 code review): a DIFFERENT checkpoint restarting at
    epoch 0 against a state whose live generation is also 0 slipped
    through the monotone guard (0 < 0 is false) and was silently dropped
    as a 'crash replay' — the checkpoint-identity marker must refuse
    it."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from artigraph_spark.operators.sketches import count_min_sketch
    from artigraph_spark.streaming import sketch_state_sink

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    # ONE file → exactly one micro-batch → live generation is sketch-0
    spark.createDataFrame(
        [(i, i % 5) for i in range(10)], ["row_id", "user_id"]
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("row_id long, user_id long").parquet(src)
    build = lambda df: count_min_sketch(df, "user_id", width=16, depth=2)
    merge = lambda df: df.groupBy("depth_id", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    q = sketch_state_sink(
        stream, build=build, merge=merge,
        state_path=state, checkpoint=str(tmp_path / "ck1"),
    )
    q.processAllAvailable()
    q.stop()
    q2 = sketch_state_sink(
        stream, build=build, merge=merge,
        state_path=state, checkpoint=str(tmp_path / "ck2"),
    )
    with _pytest.raises(Exception, match="built by stream checkpoint"):
        q2.processAllAvailable()
    q2.stop()


def test_ewma_state_sink_matches_batch(spark, tmp_path):
    """EWMA state maintained per micro-batch through sketch_state_sink
    (per-bucket fixed-point sums merged by plain sum) answers the same
    trailing EWMA as the one-shot batch operator — the smoothed-rate
    metric joins the incremental-ingest story."""
    import pyspark.sql.functions as F

    from artigraph_spark.operators.timeseries import (
        ewma_buckets,
        ewma_from_state,
        ewma_state,
    )
    from artigraph_spark.streaming import read_sketch_state, sketch_state_sink

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    all_rows = [(i % 7, float((i * 13) % 50)) for i in range(300)]
    for part in range(3):
        spark.createDataFrame(
            all_rows[part * 100 : (part + 1) * 100], ["b", "v"]
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("b long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sketch_state_sink(
        stream,
        build=lambda df: ewma_state(df, F.col("b"), "v"),
        merge=lambda df: df.groupBy("__b").agg(F.sum("__s").alias("__s")),
        state_path=state,
        checkpoint=str(tmp_path / "ck"),
    )
    q.processAllAvailable()
    q.stop()

    from_state = sorted(
        map(
            tuple,
            ewma_from_state(
                read_sketch_state(spark, state), window_buckets=3
            ).collect(),
        )
    )
    batch = sorted(
        map(
            tuple,
            ewma_buckets(
                spark.createDataFrame(all_rows, ["b", "v"]),
                F.col("b"),
                "v",
                window_buckets=3,
            ).collect(),
        )
    )
    assert from_state == batch and from_state


def test_stateful_exact_dedup_ttl_under_non_utc_session_tz(spark, tmp_path):
    """The TTL horizon is event-time epoch ms; Arrow hands the UDF naive
    timestamps rendered in the SESSION timezone, and a naive .timestamp()
    treats them as UTC — under a non-UTC session the horizon used to shift
    by the UTC offset and markers expired hours early (duplicates inside
    the TTL re-admitted). A duplicate 5 min after first sighting with a
    600 s TTL must stay dropped under America/New_York."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = tmp_path / "ttl_tz_src"
    d.mkdir()
    batches = [
        ("a.parquet", [10], ["dup"], [_ts(12, 0)]),
        ("b.parquet", [20], ["filler"], [_ts(12, 3)]),  # advances watermark
        ("c.parquet", [40], ["dup"], [_ts(12, 5)]),  # inside the true TTL
    ]
    for i, (name, ids, texts, tss) in enumerate(batches):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, type=pa.int64()),
                    "text": pa.array(texts),
                    "ts": pa.array(tss, type=pa.timestamp("us")),
                }
            ),
            d / name,
        )
        ns = (i + 1) * 1_000_000_000_000_000
        __import__("os").utime(d / name, ns=(ns, ns))

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        stream = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
            .select("doc_id", "text", "ts", F.sha2(F.col("text"), 256).alias("h"))
        )
        out = stx.stateful_exact_dedup(stream, "doc_id", "h", ts_col="ts", ttl_seconds=600)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("t_ttl_tz")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.sql("SELECT doc_id, text FROM t_ttl_tz").collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert sorted((r["text"], r["doc_id"]) for r in rows) == [
        ("dup", 10), ("filler", 20),
    ]


def test_sketch_state_sink_file_scheme_uri(spark, tmp_path):
    """The Hadoop-FS routing resolves an explicit file:// state_path the
    same as a bare path — discovery, marker, commit rename, and
    read_sketch_state all through the scheme's FileSystem."""
    import pyspark.sql.functions as F

    from artigraph_spark.streaming import read_sketch_state, sketch_state_sink

    src = str(tmp_path / "src")
    state = f"file://{tmp_path}/state_uri"
    spark.createDataFrame(
        [(i, i % 7) for i in range(100)], ["row_id", "user_id"]
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("row_id long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sketch_state_sink(
        stream,
        build=lambda df: df.groupBy("user_id").agg(F.count("*").alias("cnt")),
        merge=lambda df: df.groupBy("user_id").agg(F.sum("cnt").alias("cnt")),
        state_path=state,
        checkpoint=str(tmp_path / "ck_uri"),
    )
    q.processAllAvailable()
    q.stop()
    got = {r["user_id"]: r["cnt"] for r in read_sketch_state(spark, state).collect()}
    assert got == {u: (15 if u < 2 else 14) for u in range(7)}


def test_sketch_state_sink_rejects_object_store_scheme(spark, tmp_path):
    from artigraph_spark.streaming import sketch_state_sink

    src = str(tmp_path / "src_s3")
    spark.createDataFrame([(1,)], ["row_id"]).write.parquet(src)
    stream = (
        spark.readStream.schema("row_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with pytest.raises(ValueError, match="object store"):
        sketch_state_sink(
            stream,
            build=lambda df: df,
            merge=lambda df: df,
            state_path="s3a://bucket/state",
            checkpoint=str(tmp_path / "ck"),
        )


def test_cdc_state_sink_equals_bulk_apply(spark, tmp_path):
    """Streaming MERGE parity: the maintained snapshot equals cdc_apply
    of the FULL changelog over an empty base, regardless of how the
    changes were batched — including a delete arriving in an earlier
    batch than an older (losing) upsert for the same key: the tombstone
    must outrank it."""
    import pyspark.sql.functions as F

    from artigraph_spark.operators.quality import cdc_apply
    from artigraph_spark.streaming import cdc_state_sink, read_cdc_state

    # (k, v, ts, op) — key 7's delete@ts5 lands in batch 1, its older
    # upsert@ts3 lands in batch 3 (out-of-order arrival).
    batches = [
        [(1, "a", 1, "U"), (2, "b", 1, "U"), (7, "gone", 5, "D")],
        [(1, "a2", 3, "U"), (3, "c", 2, "U"), (2, "bx", 4, "D")],
        [(7, "late-loser", 3, "U"), (4, "d", 1, "U"), (3, "c2", 9, "U")],
    ]
    src = str(tmp_path / "src")
    for rows in batches:
        spark.createDataFrame(rows, "k int, v string, ts int, op string").coalesce(
            1
        ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("k int, v string, ts int, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "cdc_state")
    q = cdc_state_sink(
        stream,
        key_col="k",
        order_cols=["ts"],
        state_path=state,
        checkpoint=str(tmp_path / "ck"),
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["k"]: r["v"] for r in read_cdc_state(spark, state).collect()
    }

    all_rows = [r for rows in batches for r in rows]
    full = spark.createDataFrame(all_rows, "k int, v string, ts int, op string")
    empty_base = spark.createDataFrame([], "k int, v string")
    bulk = {
        r["k"]: r["v"]
        for r in cdc_apply(empty_base, full, "k", order_cols=["ts"]).collect()
    }
    assert got == bulk == {1: "a2", 3: "c2", 4: "d"}
    # tombstones retained in raw state (keys 2 and 7), filtered in answer
    from artigraph_spark.streaming import read_sketch_state

    raw_ops = {
        r["k"]: r["op"] for r in read_sketch_state(spark, state).collect()
    }
    assert raw_ops[2] == "D" and raw_ops[7] == "D"


def test_stream_sink_refuses_non_epoch_layout(spark, tmp_path):
    """A sink directory holding pre-epoch (or plain batch) parquet must be
    refused at start: mixing unpartitioned files with epoch=N dirs breaks
    partition discovery on read."""
    import pytest

    from artigraph_spark.sources import load

    out = tmp_path / "out"
    load(spark, SF_DIR, "events").limit(5).write.parquet(str(out))
    events = stx.read_stream(spark, SF_DIR, "events")
    with pytest.raises(ValueError, match="non-epoch-partitioned"):
        stx.stream_to_partitioned_sink(
            events, str(out), checkpoint=str(tmp_path / "ckpt")
        )


def test_stateful_transitions_parity_with_batch_matrix(spark, tmp_path):
    """stateful_transitions stitches per-user next-event pairs across REAL
    micro-batch boundaries; over a TIME-SLICED bounded stream (the order
    contract: each user's events arrive in event-time order across
    batches) the emitted pair multiset must equal the batch
    transition_matrix extraction exactly."""
    import os
    import time

    from pyspark.sql import functions as F

    from artigraph_spark.operators.timeseries import transition_matrix
    from artigraph_spark.sources import load

    events = load(spark, SF_DIR, "events")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    import datetime as dt

    span = (hi - lo) / 3
    src = tmp_path / "events_sliced"
    src.mkdir()
    # one file per time slice, strictly increasing mtimes so the file
    # source triggers them in event-time order
    import glob
    import shutil

    for k in range(3):
        a = lo + k * span
        b = hi + dt.timedelta(seconds=1) if k == 2 else lo + (k + 1) * span
        part = events.filter((F.col("ts") >= F.lit(a)) & (F.col("ts") < F.lit(b)))
        tmp_out = str(tmp_path / f"slice_out_{k}")
        part.coalesce(1).write.parquet(tmp_out)
        part_file = glob.glob(f"{tmp_out}/part-*.parquet")[0]
        path = str(src / f"slice_{k}.parquet")
        shutil.move(part_file, path)
        ts = time.time() + k  # monotone mtimes, 1s apart
        os.utime(path, (ts, ts))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    pairs = stx.run_stream_to_batch(
        stx.stateful_transitions(stream),
        query_name="t_transitions",
        output_mode="append",
    )
    got = {
        (r["src"], r["dst"]): r["n"]
        for r in pairs.groupBy("src", "dst").agg(F.count("*").alias("n")).collect()
    }
    want = {
        (r["src"], r["dst"]): r["n_transitions"]
        for r in transition_matrix(
            events, "user_id", "ts", "event_type", "event_id"
        ).collect()
    }
    assert got == want


def test_interval_join_drops_right_events_beyond_watermark(spark, tmp_path):
    """Pins the documented stream/batch parity caveat (interval_join
    docstring: 'disorder <= watermark'): a right event arriving more than
    ``watermark`` behind the global event-time watermark is dropped on
    the stream — its pair never emits — while the IDENTICAL batch call
    keeps it. Spark evicts join state LAZILY at micro-batch end, so the
    drop is only realized once an intervening batch runs under the
    advanced watermark: batch 1 advances both watermarks to ~11:50,
    batch 2 (a second watermark-advancer) realizes the eviction of the
    09:58 left row, batch 3 delivers the late right event back at 10:00
    against empty state."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    ldir = tmp_path / "clicks"
    rdir = tmp_path / "purchases"
    ldir.mkdir()
    rdir.mkdir()

    def write(path, users, tss, ns):
        pq.write_table(
            pa.table(
                {
                    "user": pa.array(users, type=pa.int64()),
                    "ts": pa.array(tss, type=pa.timestamp("us")),
                }
            ),
            path,
        )
        os.utime(path, ns=(ns, ns))

    # left: one file — the click that SHOULD pair (user 1 @ 09:58) plus a
    # watermark-advancer click (user 2 @ 12:00, no matching purchase)
    write(ldir / "a.parquet", [1, 2], [_ts(9, 58), _ts(12, 0)], 10**15)
    # right batch 1: watermark-advancer purchase (user 3 @ 12:01 — no
    # matching click); right batch 2: a second advancer that runs under
    # the committed 11:50 watermark and so realizes the lazy eviction of
    # the 09:58 left row; right batch 3: the LATE purchase (user 1 @
    # 10:00, ~1h50m behind the watermark, far past the 10-minute bound)
    write(rdir / "b.parquet", [3], [_ts(12, 1)], 10**15)
    write(rdir / "b2.parquet", [4], [_ts(12, 2)], 15 * 10**14)
    write(rdir / "c.parquet", [1], [_ts(10, 0)], 2 * 10**15)

    def src(d):
        return (
            spark.readStream.schema("user long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )

    joined = stx.interval_join(
        src(ldir).withColumnRenamed("ts", "lts"),
        src(rdir).withColumnRenamed("ts", "rts"),
        key="user",
        left_time="lts",
        right_time="rts",
        upper="10 minutes",
        watermark="10 minutes",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late_drop")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream_rows = spark.sql("SELECT user FROM t_late_drop").collect()
    # the late purchase's pair is silently dropped on the stream
    assert stream_rows == []

    # the identical batch call keeps it — the documented divergence
    lbatch = spark.createDataFrame(
        [(1, _ts(9, 58)), (2, _ts(12, 0))], "user long, lts timestamp"
    )
    rbatch = spark.createDataFrame(
        [(3, _ts(12, 1)), (4, _ts(12, 2)), (1, _ts(10, 0))],
        "user long, rts timestamp",
    )
    batch = stx.interval_join(
        lbatch,
        rbatch,
        key="user",
        left_time="lts",
        right_time="rts",
        upper="10 minutes",
        watermark="10 minutes",
    ).collect()
    assert [(r["user"],) for r in batch] == [(1,)]


def _batch_band_flags(df, id_col="doc_id", num_hashes=16, bands=4):
    """Batch twin of stateful_lsh_band_flags over one logical batch: per
    (band_id, band_sig) bucket the id-min document is first."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from artigraph_spark.operators.dedup import _null_safe_sig, minhash_signatures_fast

    sigs = minhash_signatures_fast(df, id_col, "text", num_hashes=num_hashes)
    rows_per_band = num_hashes // bands
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[
                            _null_safe_sig(f"mh{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_sig"),
    )
    w = Window.partitionBy("band_id", "band_sig")
    return banded.withColumn(
        "first_in_bucket", F.col(id_col) == F.min(id_col).over(w)
    )


def test_stateful_lsh_band_flags_single_batch_parity(spark):
    """One micro-batch: the streaming flags equal the batch min-id-per-bucket
    rule exactly — the same candidate semantics as lsh_candidate_pairs."""
    from pyspark.sql import functions as F

    from artigraph_spark.sources import load

    docs = stx.read_stream(spark, SF_DIR, "documents", max_files_per_trigger=1)
    out = stx.run_stream_to_batch(
        stx.stateful_lsh_band_flags(docs.select("doc_id", "text"), "doc_id", "text"),
        query_name="t_lsh_flags",
        output_mode="append",
    )
    batch = _batch_band_flags(load(spark, SF_DIR, "documents"))
    cols = ["doc_id", "band_id", "band_sig", "first_in_bucket"]
    assert _canon(out, cols) == _canon(batch, cols)
    # every document emits exactly `bands` rows
    n_docs = load(spark, SF_DIR, "documents").count()
    assert out.count() == n_docs * 4
    # composition: the keep-gate (bool_and over bands) admits exactly the
    # docs that share NO band bucket with an earlier (min-id) doc
    gate = out.groupBy("doc_id").agg(F.bool_and("first_in_bucket").alias("keep"))
    bgate = batch.groupBy("doc_id").agg(F.bool_and("first_in_bucket").alias("keep"))
    assert _canon(gate, ["doc_id", "keep"]) == _canon(bgate, ["doc_id", "keep"])


def test_stateful_lsh_band_flags_first_batch_wins(spark, tmp_path):
    """A near-duplicate arriving in a LATER batch is flagged on every band it
    shares, even when its id is smaller — the first-SEEN streaming contract."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = tmp_path / "lsh_stream_src"
    d.mkdir()
    text = "the quick brown fox jumps over the lazy dog again and again"
    pq.write_table(pa.table({"doc_id": [10], "text": [text]}), d / "a.parquet")
    pq.write_table(
        pa.table({"doc_id": [1, 2], "text": [text, "completely different words entirely unrelated content here"]}),
        d / "b.parquet",
    )
    os.utime(d / "a.parquet", ns=(1_000_000_000, 1_000_000_000))
    os.utime(d / "b.parquet", ns=(2_000_000_000_000_000_000, 2_000_000_000_000_000_000))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = stx.run_stream_to_batch(
        stx.stateful_lsh_band_flags(stream, "doc_id", "text"),
        query_name="t_lsh_flags_batches",
        output_mode="append",
    )
    gate = {
        r["doc_id"]: r["keep"]
        for r in out.groupBy("doc_id")
        .agg(F.bool_and("first_in_bucket").alias("keep"))
        .collect()
    }
    # doc 10 arrived first and keeps; identical doc 1 (smaller id, later
    # batch) is flagged on every band; unrelated doc 2 keeps
    assert gate == {10: True, 1: False, 2: True}


def test_stateful_lsh_band_flags_param_guards(spark):
    docs = stx.read_stream(spark, SF_DIR, "documents")
    with pytest.raises(ValueError, match="bands"):
        stx.stateful_lsh_band_flags(docs, "doc_id", "text", num_hashes=16, bands=5)
    with pytest.raises(ValueError, match="together"):
        stx.stateful_lsh_band_flags(docs, "doc_id", "text", ts_col="ts")


@pytest.mark.slow
def test_stateful_lsh_band_flags_ttl_bounded_and_readmits(spark, tmp_path):
    """TTL mode: expired band buckets are evicted (state bounded by the TTL
    horizon) and a near-duplicate arriving after expiry re-claims its
    buckets — mirroring the exact-dedup TTL contract bucket-wise."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = tmp_path / "lsh_ttl_src"
    d.mkdir()
    text = "the quick brown fox jumps over the lazy dog again and again"
    # 4 batches like the exact-dedup TTL test: evictions only fire for
    # keys WITHOUT data in a batch, so the re-claiming duplicate needs a
    # filler batch between watermark advance and its own arrival.
    batches = [
        ("a.parquet", [10], [text], [_ts(10)]),
        ("b.parquet", [20], ["filler words to advance the watermark forward"], [_ts(12)]),
        ("c.parquet", [25], ["more filler words advancing the watermark again"], [_ts(12, 10)]),
        ("d.parquet", [30], [text], [_ts(12, 30)]),
    ]
    for i, (name, ids, texts, tss) in enumerate(batches):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, type=pa.int64()),
                    "text": pa.array(texts),
                    "ts": pa.array(tss, type=pa.timestamp("us")),
                }
            ),
            d / name,
        )
        ns = (i + 1) * 1_000_000_000_000_000
        os.utime(d / name, ns=(ns, ns))

    def run(ttl, qn):
        stream = (
            spark.readStream.schema("doc_id long, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        out = stx.stateful_lsh_band_flags(
            stream, "doc_id", "text", ts_col="ts", ttl_seconds=ttl
        )
        res = stx.run_stream_to_batch(out, query_name=qn, output_mode="append")
        return {
            r["doc_id"]: r["keep"]
            for r in res.groupBy("doc_id")
            .agg(F.bool_and("first_in_bucket").alias("keep"))
            .collect()
        }

    # TTL beyond the stream span: the later identical doc is flagged
    assert run(10**7, "t_lsh_ttl_long") == {10: True, 20: True, 25: True, 30: False}
    # TTL 600 s: doc 10's buckets (ts 10:00, timeout 10:10) are evicted
    # while batch c processes (watermark already past) — the identical
    # doc 30 then re-claims every bucket
    assert run(600, "t_lsh_ttl_short") == {10: True, 20: True, 25: True, 30: True}


@pytest.mark.slow
def test_stateful_lsh_band_flags_ttl_horizon_is_monotone(spark, tmp_path):
    """A LATE duplicate with an OLDER event time must not pull a bucket's
    TTL horizon backward (it would evict the marker early and re-admit
    near-dups inside the documented TTL) — the r12 monotone-horizon rule,
    shared with stateful_exact_dedup."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = tmp_path / "lsh_mono_src"
    d.mkdir()
    text = "the quick brown fox jumps over the lazy dog again and again"
    batches = [
        ("a.parquet", [10], [text], [_ts(10)]),          # horizon 11:00 (ttl 1h)
        ("b.parquet", [11], [text], [_ts(8, 30)]),        # late older dup: 9:30 must NOT win
        ("c.parquet", [20], ["filler words to advance the watermark"], [_ts(12)]),
        ("d.parquet", [21], ["more filler words advancing it again"], [_ts(12, 10)]),
        ("e.parquet", [30], [text], [_ts(12, 20)]),       # horizon 11:00 already passed? no: wm 10:10 < 11:00
    ]
    for i, (name, ids, texts, tss) in enumerate(batches):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, type=pa.int64()),
                    "text": pa.array(texts),
                    "ts": pa.array(tss, type=pa.timestamp("us")),
                }
            ),
            d / name,
        )
        ns = (i + 1) * 1_000_000_000_000_000
        os.utime(d / name, ns=(ns, ns))
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = stx.run_stream_to_batch(
        stx.stateful_lsh_band_flags(
            stream, "doc_id", "text",
            ts_col="ts", ttl_seconds=3600, watermark_delay="2 hours",
        ),
        query_name="t_lsh_ttl_mono",
        output_mode="append",
    )
    gate = {
        r["doc_id"]: r["keep"]
        for r in out.groupBy("doc_id")
        .agg(F.bool_and("first_in_bucket").alias("keep"))
        .collect()
    }
    # Without the monotone rule the late older dup (doc 11) re-arms the
    # horizon to 9:30, the filler batches evict the buckets, and doc 30
    # would be WRONGLY re-admitted (keep=True).
    assert gate == {10: True, 11: False, 20: True, 21: True, 30: False}


def _batch_cosine_band_flags(df, id_col="vec_id", dim=64, n_planes=8, n_tables=4, seed=42):
    """Batch twin of stateful_cosine_band_flags over one logical batch: per
    (table, bucket) the id-min vector is first."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from artigraph_spark.operators.similarity import _hyperplanes, lsh_bucket

    tables = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    banded = df.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[lsh_bucket(F.col("embedding"), p).cast("string") for p in tables])
        ).alias("band_id", "band_sig"),
    )
    w = Window.partitionBy("band_id", "band_sig")
    return banded.withColumn(
        "first_in_bucket", F.col(id_col) == F.min(id_col).over(w)
    )


def test_stateful_cosine_band_flags_single_batch_parity(spark):
    """One micro-batch: streaming semantic flags equal the batch
    min-id-per-(table, bucket) rule — the cosine_topk_lsh candidate
    semantics evaluated incrementally."""
    from pyspark.sql import functions as F

    from artigraph_spark.sources import load

    vecs = stx.read_stream(spark, SF_DIR, "embeddings", max_files_per_trigger=1)
    out = stx.run_stream_to_batch(
        stx.stateful_cosine_band_flags(
            vecs.select("vec_id", "embedding"), "vec_id", "embedding"
        ),
        query_name="t_cos_flags",
        output_mode="append",
    )
    batch = _batch_cosine_band_flags(load(spark, SF_DIR, "embeddings"))
    cols = ["vec_id", "band_id", "band_sig", "first_in_bucket"]
    assert _canon(out, cols) == _canon(batch, cols)
    n_vecs = load(spark, SF_DIR, "embeddings").count()
    assert out.count() == n_vecs * 4
    gate = out.groupBy("vec_id").agg(F.bool_and("first_in_bucket").alias("keep"))
    bgate = batch.groupBy("vec_id").agg(F.bool_and("first_in_bucket").alias("keep"))
    assert _canon(gate, ["vec_id", "keep"]) == _canon(bgate, ["vec_id", "keep"])


def test_stateful_cosine_band_flags_first_batch_wins(spark, tmp_path):
    """An identical vector arriving in a LATER batch is flagged on every
    table it shares (all of them), even with a smaller id."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    d = tmp_path / "cos_stream_src"
    d.mkdir()
    v = [0.1 * (i % 7) - 0.3 for i in range(64)]
    other = [-0.2 * ((i * 3) % 5) + 0.4 for i in range(64)]
    vec_t = pa.list_(pa.float32())
    pq.write_table(
        pa.table({"vec_id": [10], "embedding": pa.array([v], type=vec_t)}),
        d / "a.parquet",
    )
    pq.write_table(
        pa.table(
            {"vec_id": [1, 2], "embedding": pa.array([v, other], type=vec_t)}
        ),
        d / "b.parquet",
    )
    os.utime(d / "a.parquet", ns=(1_000_000_000, 1_000_000_000))
    os.utime(d / "b.parquet", ns=(2_000_000_000_000_000_000, 2_000_000_000_000_000_000))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = stx.run_stream_to_batch(
        stx.stateful_cosine_band_flags(stream, "vec_id", "embedding"),
        query_name="t_cos_first_wins",
        output_mode="append",
    )
    keep = {
        r["vec_id"]: r["keep"]
        for r in out.groupBy("vec_id")
        .agg(F.bool_and("first_in_bucket").alias("keep"))
        .collect()
    }
    # doc 10 arrived first and keeps its claim; identical doc 1 (smaller id,
    # later batch) is flagged on every table; doc 2 is unrelated
    assert keep[10] is True
    assert keep[1] is False
    assert keep[2] is True


def test_stateful_cosine_band_flags_guards(spark):
    df = spark.createDataFrame(
        [(1, [0.1] * 64, "x")], "vec_id long, embedding array<float>, ts string"
    )
    with pytest.raises(TypeError, match="stateful_cosine_band_flags.*timestamp"):
        stx.stateful_cosine_band_flags(
            df, "vec_id", "embedding", ts_col="ts", ttl_seconds=60
        )
    with pytest.raises(ValueError, match="n_planes"):
        stx.stateful_cosine_band_flags(df, "vec_id", "embedding", n_planes=0)
    with pytest.raises(ValueError, match="n_tables"):
        stx.stateful_cosine_band_flags(df, "vec_id", "embedding", n_tables=0)


def test_cdc_chunks_compose_with_streaming_exact_dedup(spark):
    """Chunk-level STREAMING dedup needs no new operator: content-defined
    chunking is pure per-row array expressions (stream-safe), so its
    posexplode output feeds stateful_exact_dedup keyed on chunk_fp — the
    incremental form of cdc_chunk_dedup's corpus groupBy."""
    from pyspark.sql import functions as F

    from artigraph_spark.operators.text import content_defined_chunks
    from artigraph_spark.sources import load

    docs = stx.read_stream(spark, SF_DIR, "documents", max_files_per_trigger=1)
    chunks = content_defined_chunks(
        docs.select("doc_id", "text"), "doc_id", "text", window=4, mask_bits=4
    ).withColumn("chunk_key", F.concat_ws("#", "doc_id", "chunk_no"))
    out = stx.run_stream_to_batch(
        stx.stateful_exact_dedup(chunks, "chunk_key", "chunk_fp"),
        query_name="t_cdc_stream_dedup",
        output_mode="append",
    )
    # batch twin: one survivor per distinct chunk fingerprint
    batch = content_defined_chunks(
        load(spark, SF_DIR, "documents").select("doc_id", "text"),
        "doc_id", "text", window=4, mask_bits=4,
    )
    n_distinct = batch.select("chunk_fp").distinct().count()
    assert out.count() == n_distinct
    # every surviving row is a real chunk row (full passthrough schema)
    assert {"doc_id", "chunk_no", "chunk", "chunk_tokens", "chunk_fp"} <= set(out.columns)
    surviving_fps = {r["chunk_fp"] for r in out.select("chunk_fp").collect()}
    batch_fps = {r["chunk_fp"] for r in batch.select("chunk_fp").distinct().collect()}
    assert surviving_fps == batch_fps
