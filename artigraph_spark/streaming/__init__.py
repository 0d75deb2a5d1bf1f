"""Structured Streaming extension.

The reference is batch-only (sequential executor,
/root/reference/src/arti/executors/local.py:22-57) — streaming is a declared
*extension*, not compat surface (SURVEY §2). The contract here: every
streaming transformation has a batch twin in artigraph_spark.queries
(window_tumbling / window_sliding / window_session), and
``run_stream_to_batch`` lets tests prove stream/batch parity by driving a
bounded parquet-backed stream to completion with the memory sink.

Scale posture: watermarks bound state; aggregations are keyed by
(window, key) so state partitions shuffle-evenly; ``foreachBatch`` writes
land through the same partitioned-sink path as batch builds.
"""

from __future__ import annotations

import urllib.parse
from collections.abc import Sequence
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from artigraph_spark.sources import TABLES


def read_stream(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Open a fixture table as a bounded file stream (schema from the batch
    read — never inferred; nanos→µs bridge applied for events, matching
    sources.load)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}")
    from artigraph_spark.sources import load

    batch = load(spark, sf_dir, name)
    reader = spark.readStream.schema(batch.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # File-stream sources require a DIRECTORY path; the fixtures are single
    # files, so stream the SF dir with a glob filter selecting the one file.
    reader = reader.option("pathGlobFilter", f"{name}.parquet")
    if name == "events":
        from pyspark.sql import types as T

        from artigraph_spark.sources import file_schema

        # The file's own schema as sources.load read it (ts as raw int64
        # nanos for a TIMESTAMP(NANOS) file); the batch schema above already
        # carries the converted ts.
        raw = file_schema(spark, sf_dir, name)
        stream = reader.schema(raw).parquet(sf_dir)
        # Same guard as sources.load: only bridge when ts actually reads as
        # int64 nanos — fixtures written with µs timestamps stream as-is.
        if isinstance(raw["ts"].dataType, T.LongType):
            stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(raw["ts"].dataType, T.TimestampNTZType):
            # Watermarks require TIMESTAMP (ltz). Session tz is pinned to UTC
            # (sources.load), so this cast preserves the wall-clock instant
            # and keeps stream/batch parity exact.
            stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        return stream
    return reader.parquet(sf_dir)


def tumbling_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    key: str = "event_type",
) -> DataFrame:
    """Streaming twin of queries.timeseries.window_tumbling."""
    from artigraph_spark.functions import DEFAULT_BITS, fxp

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), key)
        .agg(
            F.count("*").alias("n"),
            (F.sum(fxp(F.when(F.col("value").isNotNull() & ~F.isnan("value"), F.col("value")))).cast("double") / F.lit(float(1 << DEFAULT_BITS))).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            key,
            "n",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame, *, window: str = "1 hour", slide: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    from artigraph_spark.functions import DEFAULT_BITS, fxp

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(
            F.count("*").alias("n"),
            (F.sum(fxp(F.when(F.col("value").isNotNull() & ~F.isnan("value"), F.col("value")))).cast("double") / F.lit(float(1 << DEFAULT_BITS))).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "total_value",
        )
    )


def session_counts(
    events: DataFrame, *, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native streaming sessionization (F.session_window); the batch twin is
    operators.windows.sessionize (lag+cumsum)."""
    from artigraph_spark.functions import DEFAULT_BITS, fxp

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(fxp(F.when(F.col("value").isNotNull() & ~F.isnan("value"), F.col("value")))).cast("double") / F.lit(float(1 << DEFAULT_BITS))).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (event count, fixed-point value sum) carried in
    explicit GroupState across micro-batches, emitting the updated totals
    each batch.

    This is the escape hatch for stateful logic ``groupBy().agg()`` can't
    express (custom eviction, session stitching, per-key models). State is
    two longs per user — keyed state partitions shuffle-evenly by user_id
    and the fixed-point sum keeps totals exact and batch/stream identical
    (float accumulation order would otherwise differ between the streaming
    state path and the batch partial+final aggregate).

    Batch twin: ``events.groupBy(user_id).agg(count, dsum(value))`` — tests
    assert final-state parity on the bounded fixture stream.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    bits = 20

    def update(key, pdfs, state: GroupState):
        n, sv = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)  # count("*") semantics: nulls count
            vals = pdf["value"].to_numpy(dtype="float64")
            vals = vals[~np.isnan(vals)]  # F.sum semantics: nulls skipped
            if len(vals):
                # Sum as int64, not float64: a float sum loses exactness past
                # 2^53, which would break the promised parity with dsum's
                # exact long accumulation on very large batches/values.
                sv += int(np.floor(vals * (1 << bits)).astype("int64").sum())
        state.update((n, sv))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [sv / float(1 << bits)],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, sv long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _require_ttl_pair(ts_col, ttl_seconds) -> None:
    if (ts_col is None) != (ttl_seconds is None):
        raise ValueError("ts_col and ttl_seconds must be given together")


def _require_timestamp(df: DataFrame, ts_col: str, op_name: str) -> None:
    """TTL bounding needs a real event-time column: a non-timestamp ts_col
    would only fail deep inside withWatermark / the pandas tz re-localize
    with an opaque error, so reject it at the API boundary (the
    restricted_mean_survival guard style)."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    dt = df.schema[ts_col].dataType
    # NTZ is a sibling class, not a subclass — and is watermark-supported
    # (the _epoch_ms re-localize handles naive values), so accept both.
    if not isinstance(dt, (TimestampType, TimestampNTZType)):
        raise TypeError(
            f"{op_name}: ts_col {ts_col!r} must be a timestamp column, "
            f"got {dt.simpleString()}"
        )


def _epoch_ms_fn(session_tz):
    """Event-time → epoch-ms converter for the TTL state operators.

    Arrow hands the pandas UDF timestamps rendered in the SESSION timezone
    and made tz-NAIVE; naive .timestamp() assumes UTC, so under a non-UTC
    session tz the TTL horizon would shift by the UTC offset relative to
    getCurrentWatermarkMs() (true epoch ms) and markers would expire hours
    early. ONE definition (capture the session tz, re-localize in the UDF)
    shared by every TTL-bounded state operator so a tz/DST fix can never
    land in only one copy."""

    def _epoch_ms(ts) -> int:
        try:
            return int(
                ts.tz_localize(
                    session_tz, ambiguous=True, nonexistent="shift_forward"
                ).timestamp()
                * 1000
            )
        except Exception:  # non-IANA tz string — fall back to naive-as-UTC
            return int(ts.timestamp() * 1000)

    return _epoch_ms


def stateful_exact_dedup(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    *,
    ts_col: str | None = None,
    ttl_seconds: int | None = None,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming exact dedup: emit the FULL first row seen for each content
    hash, across micro-batches — the incremental twin of batch
    ``dedup_exact``. Downstream consumes the kept documents directly (all
    input columns pass through); duplicates are pure drops, no re-join
    against the raw stream needed.

    The kept row is the id-minimum WITHIN the first micro-batch containing
    the hash (deterministic regardless of arrival order inside the batch; a
    duplicate arriving in a LATER batch is dropped even if its id is
    smaller — first-seen wins, which is the streaming contract). State per
    key is a single marker, so memory is O(distinct keys) spread
    shuffle-evenly by the hash.

    **State bounding** — two modes:

    - ``ts_col=None`` (default): exact, unbounded — ``NoTimeout`` state
      grows with every distinct hash forever. Correct for bounded
      backfills; opt into it knowingly for long-running streams.
    - ``ts_col=..., ttl_seconds=...``: watermark-bounded. The stream gets
      ``withWatermark(ts_col, watermark_delay)`` and each key's state
      carries an event-time timeout ``ttl_seconds`` past its LAST sighting
      (sliding TTL: duplicates refresh it). When the watermark passes the
      timeout the marker is evicted, so state holds only hashes seen
      within the TTL horizon — bounded by the stream's distinct-rate ×
      TTL, not by history. Documented tradeoff: a duplicate arriving
      AFTER its hash expired is re-admitted (emitted again); pick
      ``ttl_seconds`` at the scale of real duplicate locality (crawl
      re-fetch windows), exactly the compaction the 100 TB posture needs.

    **Checkpoint compatibility**: r12 widened the TTL-mode state schema
    from ``seen boolean`` to ``seen boolean, horizon long`` (the monotone
    sliding-TTL horizon). A TTL-bounded stream resumed from a pre-r12
    checkpoint fails Spark's state-schema validation — restart such a
    stream from a fresh checkpoint (the unbounded mode's schema is
    unchanged). The state read below also len-guards the tuple so any
    single-field state that does surface is read as horizon-0 rather
    than misread.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    _require_ttl_pair(ts_col, ttl_seconds)
    bounded = ts_col is not None
    if bounded:
        _require_timestamp(df, ts_col, "stateful_exact_dedup")
    columns = [f.name for f in df.schema.fields]
    _epoch_ms = _epoch_ms_fn(df.sparkSession.conf.get("spark.sql.session.timeZone"))

    def best_of(pdfs):
        best, max_ts = None, None
        for pdf in pdfs:
            # NULL ids can never win "minimum id", and pandas idxmin raises
            # ValueError on an all-NA series — one bad group would kill the
            # whole streaming query. Drop them before picking the keeper.
            # In bounded mode NULL event times are equally fatal (NaT.max()
            # poisons the TTL arithmetic: NaT.timestamp() raises) AND
            # meaningless under a watermark — drop those rows too.
            pdf = pdf[pdf[id_col].notna()]
            if bounded:
                pdf = pdf[pdf[ts_col].notna()]
            if len(pdf):
                m = pdf.loc[pdf[id_col].idxmin()]
                if best is None or m[id_col] < best[id_col]:
                    best = m
                if bounded:
                    t = pdf[ts_col].max()
                    max_ts = t if max_ts is None else max(max_ts, t)
        return best, max_ts

    def update(key, pdfs, state: GroupState):
        best, _ = best_of(pdfs)
        if state.exists or best is None:
            return  # key already emitted in an earlier batch → pure drop
        state.update((True,))
        yield pd.DataFrame({c: [best[c]] for c in columns})

    def update_ttl(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # Watermark passed this hash's TTL horizon: evict the marker.
            # A later duplicate re-admits — the documented bounding trade.
            state.remove()
            return
        best, max_ts = best_of(pdfs)
        if best is None:
            return
        emit = not state.exists
        # Sliding TTL from the last sighting — MONOTONE (r12): a late
        # duplicate with an OLDER event time must never pull the horizon
        # backward (it would evict the marker early and re-admit inside
        # the documented TTL), so the horizon rides the state and only
        # extends. Clamp above the current watermark (Spark rejects a
        # timeout at/behind it, which very-late data could produce).
        # len-guard: a pre-r12 single-field (seen,) state reads as
        # horizon 0 instead of raising (see docstring).
        prev = state.get if state.exists else ()
        prev_horizon = prev[1] if len(prev) > 1 else 0
        candidate = max(_epoch_ms(max_ts) + ttl_seconds * 1000, prev_horizon)
        state.update((True, candidate))
        state.setTimeoutTimestamp(max(candidate, state.getCurrentWatermarkMs() + 1))
        if emit:
            yield pd.DataFrame({c: [best[c]] for c in columns})

    if bounded:
        return (
            df.withWatermark(ts_col, watermark_delay)
            .groupBy(hash_col)
            .applyInPandasWithState(
                update_ttl,
                outputStructType=df.schema,  # full input row passes through
                stateStructType="seen boolean, horizon long",
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )
    return df.groupBy(hash_col).applyInPandasWithState(
        update,
        outputStructType=df.schema,  # full input row passes through
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_lsh_band_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    ts_col: str | None = None,
    ttl_seconds: int | None = None,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming NEAR-dup gate primitive: the incremental member of the
    MinHash-LSH family (`stateful_exact_dedup` only catches byte-identical
    content; a crawl re-fetch with a changed timestamp sails through it).

    Each arriving document is signed with the fast xxhash64 shingle
    MinHash (pure per-row expressions — stream-safe, zero shuffle),
    exploded into its ``bands`` band-signature keys, and checked against
    per-bucket marker state: ``first_in_bucket`` is true iff no EARLIER
    document claimed that band bucket (within a micro-batch, the id-min
    document is "first", the deterministic arrival-tie rule of
    `stateful_exact_dedup`). A document with ``first_in_bucket = false``
    on ANY band shares that band with an earlier document — exactly the
    batch `lsh_candidate_pairs` candidate rule, evaluated incrementally.
    Gate downstream with ``groupBy(id).agg(bool_and(first_in_bucket))``
    or route flagged docs to a verification topic.

    State is one marker per DISTINCT band bucket (``bands`` per distinct
    signature — summary-sized, spread shuffle-evenly by the band key).
    Bounding mirrors `stateful_exact_dedup`: unbounded ``NoTimeout`` by
    default (bounded backfills), or ``ts_col + ttl_seconds`` for a
    sliding event-time TTL per bucket (re-admission after expiry is the
    documented trade; pick the TTL at real duplicate locality).

    Returns ``(id, [ts], band_id, band_sig, first_in_bucket)`` — one row
    per (document, band).
    """
    from artigraph_spark.operators.dedup import band_key_array, minhash_signatures_fast

    _require_ttl_pair(ts_col, ttl_seconds)
    if ts_col is not None:
        _require_timestamp(df, ts_col, "stateful_lsh_band_flags")
    if bands <= 0 or bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes evenly (got num_hashes={num_hashes}, "
            f"bands={bands})"
        )
    keep = (ts_col,) if ts_col is not None else ()
    sigs = minhash_signatures_fast(
        df, id_col, text_col, num_hashes=num_hashes,
        shingle_size=shingle_size, keep_cols=keep,
    )
    banded = sigs.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.posexplode(band_key_array(num_hashes, bands)).alias("band_id", "band_sig"),
    )
    return _banded_first_flags(
        banded, id_col,
        ts_col=ts_col, ttl_seconds=ttl_seconds, watermark_delay=watermark_delay,
    )


def _banded_first_flags(
    banded: DataFrame,
    id_col: str,
    *,
    ts_col: str | None,
    ttl_seconds: int | None,
    watermark_delay: str,
) -> DataFrame:
    """Shared first-claim state machinery for the banded near-dup gates
    (lexical `stateful_lsh_band_flags`, semantic
    `stateful_cosine_band_flags`): given a ``banded`` frame of
    ``(id, [ts], band_id, band_sig)`` rows, flag per (band_id, band_sig)
    bucket whether each document is the first claimant — one boolean
    marker of state per distinct bucket, unbounded or event-time-TTL
    bounded, the exact semantics documented on the public gates. ONE
    implementation so a state/TTL/tz fix can never land in only one
    gate."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    bounded = ts_col is not None
    keep = (ts_col,) if bounded else ()
    id_type = banded.schema[id_col].dataType.simpleString()
    out_fields = [f"{id_col} {id_type}"]
    if bounded:
        out_fields.append(f"{ts_col} {banded.schema[ts_col].dataType.simpleString()}")
    out_fields += ["band_id int", "band_sig string", "first_in_bucket boolean"]
    out_schema = ", ".join(out_fields)
    out_cols = [id_col, *keep, "band_id", "band_sig"]
    _epoch_ms = _epoch_ms_fn(
        banded.sparkSession.conf.get("spark.sql.session.timeZone")
    )

    def _flags(pdfs, already_claimed: bool):
        parts, max_ts = [], None
        for pdf in pdfs:
            pdf = pdf[pdf[id_col].notna()]
            if bounded:
                pdf = pdf[pdf[ts_col].notna()]
            if len(pdf):
                parts.append(pdf)
                if bounded:
                    t = pdf[ts_col].max()
                    max_ts = t if max_ts is None else max(max_ts, t)
        if not parts:
            return None, None
        allp = pd.concat(parts, ignore_index=True)[out_cols]
        if already_claimed:
            allp["first_in_bucket"] = False
        else:
            allp["first_in_bucket"] = allp[id_col] == allp[id_col].min()
        return allp, max_ts

    def update(key, pdfs, state: GroupState):
        out, _ = _flags(pdfs, state.exists)
        if out is None:
            return
        state.update((True,))
        yield out

    def update_ttl(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()  # expiry → later duplicates re-admit (documented)
            return
        out, max_ts = _flags(pdfs, state.exists)
        if out is None:
            return
        # MONOTONE sliding TTL (the stateful_exact_dedup rule): a late
        # duplicate with an older event time never pulls the horizon
        # backward — it would evict the bucket early, re-admitting
        # near-dups inside the documented TTL.
        prev = state.get if state.exists else ()
        prev_horizon = prev[1] if len(prev) > 1 else 0
        candidate = max(_epoch_ms(max_ts) + ttl_seconds * 1000, prev_horizon)
        state.update((True, candidate))
        state.setTimeoutTimestamp(max(candidate, state.getCurrentWatermarkMs() + 1))
        yield out

    if bounded:
        return (
            banded.withWatermark(ts_col, watermark_delay)
            .groupBy("band_id", "band_sig")
            .applyInPandasWithState(
                update_ttl,
                outputStructType=out_schema,
                stateStructType="seen boolean, horizon long",
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )
    return banded.groupBy("band_id", "band_sig").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_cosine_band_flags(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    ts_col: str | None = None,
    ttl_seconds: int | None = None,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming SEMANTIC near-dup gate: the embedding-space member of the
    streaming dedup family (`stateful_exact_dedup` catches byte-identical
    content, `stateful_lsh_band_flags` lexical near-twins; a paraphrase or
    re-encode that shares no tokens sails through both).

    Each arriving vector is signed with the batch `cosine_topk_lsh`
    machinery — ``n_tables`` independent random-hyperplane tables of
    ``n_planes`` sign bits each (seeded Python-side constants baked into
    the plan as literals, pure per-row JVM expressions, zero shuffle) —
    and checked per (table, bucket) against the same first-claim marker
    state as the lexical gate: ``first_in_bucket`` is false iff an
    EARLIER vector claimed that table's bucket, exactly the batch
    multi-table candidate rule (same-bucket-in-≥1-table) evaluated
    incrementally. Gate downstream with
    ``groupBy(id).agg(bool_and(first_in_bucket))`` to keep only vectors
    that collide nowhere, or route flagged ids to exact-cosine
    verification — LSH buckets are CANDIDATES (recall ≈ 1−(1−p^k)^L,
    the cosine_topk_lsh math), not confirmed duplicates.

    State is one marker per distinct (table, bucket) — ``n_tables`` per
    distinct signature, spread shuffle-evenly by the band key; bounding
    (unbounded / sliding event-time TTL with re-admission after expiry)
    is `_banded_first_flags`' shared contract. Output shape matches the
    lexical gate: ``(id, [ts], band_id, band_sig, first_in_bucket)``
    with band_id the table index and band_sig the packed sign-bit
    bucket.
    """
    from artigraph_spark.operators.similarity import _hyperplanes, lsh_bucket

    _require_ttl_pair(ts_col, ttl_seconds)
    if ts_col is not None:
        _require_timestamp(df, ts_col, "stateful_cosine_band_flags")
    if n_planes < 1 or n_planes > 62:
        raise ValueError(f"n_planes must be in [1, 62], got {n_planes}")
    if n_tables < 1:
        raise ValueError(f"n_tables must be >= 1, got {n_tables}")
    keep = (ts_col,) if ts_col is not None else ()
    tables = [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    buckets = F.array(
        *[lsh_bucket(F.col(vec_col), planes).cast("string") for planes in tables]
    )
    # Drop NULL vectors BEFORE signing: lsh_bucket's dim guard would
    # raise_error on a NULL array, and in a stream that poison record
    # would kill the query on every restart from the checkpoint. A NULL
    # embedding is a data condition (failed encode) → the row is skipped,
    # like the batch semdedup's isNotNull filter; a WRONG-LENGTH vector
    # stays a hard error (config mismatch — silent collapse into bucket 0
    # would be worse than the crash).
    banded = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.posexplode(buckets).alias("band_id", "band_sig"),
    )
    return _banded_first_flags(
        banded, id_col,
        ts_col=ts_col, ttl_seconds=ttl_seconds, watermark_delay=watermark_delay,
    )


def run_stream_to_batch(
    stream_df: DataFrame, *, query_name: str = "stream_out", output_mode: str = "complete"
) -> DataFrame:
    """Drive a bounded stream to completion through the memory sink and
    return the result as a batch DataFrame (test/parity harness)."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def stream_to_partitioned_sink(
    stream_df: DataFrame,
    path: str,
    *,
    partition_by: tuple[str, ...] = (),
    checkpoint: str,
    on_batch: Callable[[DataFrame, int], None] | None = None,
):
    """foreachBatch → partitioned parquet sink, idempotent per epoch.

    Checkpointing alone gives at-least-once delivery to foreachBatch: a
    crash after the write but before the epoch commit REPLAYS the epoch,
    and a blind append would double its rows. Each batch therefore lands
    under an ``epoch=<id>`` partition via dynamic-partition OVERWRITE —
    the replay rewrites exactly its own epoch partitions and nothing
    else, which upgrades the sink to effectively-exactly-once. Readers
    see an extra ``epoch`` bigint column (drop it, or keep it as
    provenance); ``on_batch`` may still be re-invoked on replay.

    Refuses to start over a sink directory holding non-``epoch=``
    content (e.g. written by this sink's pre-epoch append layout, or by
    a plain batch write): mixing unpartitioned files with ``epoch=N``
    dirs breaks partition discovery on read. Migrate by moving the old
    files under a synthetic ``epoch=-1/`` partition (their column values
    are unchanged; the provenance column reads -1) or into a separate
    directory, then restart.

    Replay residue caveat: a replayed epoch overwrites only the
    sub-partitions its batch PRODUCES. With a deterministic source the
    replay regenerates the same sub-partitions and the overwrite is
    exact; a NON-deterministic batch that yields fewer ``partition_by``
    values than the crashed attempt leaves the extra sub-partitions from
    the first attempt in place. Keep the batch derivation deterministic
    (the Structured Streaming replayability contract) or drop
    ``partition_by`` so each epoch is a single partition."""
    spark = stream_df.sparkSession
    fs, root = _hadoop_fs(spark, path)
    if fs.exists(root):
        stray = [
            st.getPath().getName()
            for st in fs.listStatus(root)
            if not st.getPath().getName().startswith(("epoch=", "_", "."))
        ]
        if stray:
            raise ValueError(
                f"sink {path!r} holds non-epoch-partitioned content"
                f" {sorted(stray)[:5]!r}{'...' if len(stray) > 5 else ''};"
                " mixing it with epoch=N partitions breaks discovery on"
                " read — move it under a synthetic epoch=-1/ partition or"
                " point the sink at a fresh directory"
            )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        writer = (
            batch_df.withColumn("epoch", F.lit(epoch_id).cast("bigint"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch", *partition_by)
        )
        writer.parquet(path)
        if on_batch is not None:
            on_batch(batch_df, epoch_id)

    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_time: str,
    right_time: str,
    upper: str = "10 minutes",
    watermark: str = "10 minutes",
    join_type: str = "inner",
) -> DataFrame:
    """Stream-stream (or batch-batch) interval join: pair rows sharing
    ``key`` where the right event lands strictly after the left one and
    within ``upper`` of it — the enrichment shape ("purchase within 10
    minutes of the click"). Works identically on batch frames, so
    stream/batch parity is testable with the same call.

    On streaming inputs both sides get ``withWatermark``; together with
    the two-sided time-range condition this lets Spark's symmetric hash
    join evict state once the watermark passes ``upper`` — per-key state
    is bounded by (arrival rate × horizon), never unbounded. The join
    shuffles both sides on ``key``; the time bounds ride as a join-range
    residual, not a post-join filter.

    Stream/batch parity holds only while event-time disorder stays within
    ``watermark``: beyond it, emission is BEST-EFFORT — Spark evicts the
    matching side's state lazily at micro-batch end, so a right event
    arriving more than ``watermark`` out of order pairs only if the left
    row's state happens to survive physically, and is silently dropped
    once an intervening batch has realized the eviction (pinned in
    test_interval_join_drops_right_events_beyond_watermark). The
    identical batch call always keeps such pairs. Callers passing a
    large ``upper`` should raise ``watermark`` to at least ``upper``
    (Spark needs watermark ≥ the join horizon to emit leftOuter nulls at
    all) — the defaults are aligned at 10 minutes for exactly this
    reason.

    ``key`` and the two time columns are frame-qualified internally, so
    they may share names across the sides: the key appears once in the
    output, and when both sides name their time column identically the
    right side's is returned as ``<right_time>_right`` so both remain
    referencable. Any OTHER shared column names survive into the output
    ambiguously — alias those before calling, as with any self-join.
    """
    if join_type not in ("inner", "leftOuter"):
        raise ValueError(f"unsupported interval join type {join_type!r}")
    if left.isStreaming:
        left = left.withWatermark(left_time, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_time, watermark)
    # frame-qualified references (left[...]/right[...]), so key and time
    # columns may share names across the two sides without ambiguity
    lt, rt = left[left_time], right[right_time]
    cond = (
        (left[key] == right[key])
        & (rt > lt)
        & (rt <= lt + F.expr(f"INTERVAL {upper}"))
    )
    out_cols = [left[c] for c in left.columns]
    for c in right.columns:
        if c == key:
            continue  # key appears once, from the left side
        if c == right_time and right_time == left_time:
            out_cols.append(right[c].alias(f"{c}_right"))
        else:
            out_cols.append(right[c])
    return left.join(right, cond, join_type).select(*out_cols)


def sketch_state_sink(
    stream_df: DataFrame,
    *,
    build: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
    state_path: str,
    checkpoint: str,
):
    """Maintain a mergeable-sketch state table over a stream: every
    micro-batch is summarised by ``build`` (batch frame → partial sketch)
    and folded into the persisted state with ``merge`` (union of old state
    + partial → merged sketch). Works for every sketch in
    ``operators.sketches`` because they all merge relationally — CMS/
    grouped CMS by summing cells, HLL by per-register max, Bloom by
    union+distinct, histograms by summing bin counts — so the maintained
    state equals the sketch of all data seen, without ever reprocessing
    history. That is the 100 TB ingest story: per-batch work is
    O(batch) + O(sketch), state is O(sketch), forever.

    Exactly-once across failures: each merged state generation lands as a
    single atomic directory rename ``sketch-<epoch>``; a replayed epoch
    (foreachBatch re-delivery after a crash) finds its generation already
    present and skips — the merge is idempotent per epoch with no separate
    per-epoch marker file to race against. Superseded generations are
    pruned after the swap. A stream whose OWN checkpoint was reset (epoch
    ids restart below the live generation) is refused with a RuntimeError
    rather than silently double-merging — clear ``state_path`` to rebuild,
    or keep the original checkpointLocation to continue. A
    ``_checkpoint_marker`` file additionally pins WHICH checkpoint built
    the state, so a DIFFERENT checkpoint path is refused even when both
    sit at epoch 0 (where the monotone guard alone would mistake the
    reset for a crash replay and drop the batch); the one residual blind
    spot is deleting and recreating the SAME checkpoint path after
    exactly one committed epoch.

    Filesystem routing: generation discovery, the marker file, and the
    commit rename all go through the Hadoop FileSystem API for
    ``state_path``'s scheme — bare/``file://`` paths use the local FS,
    ``hdfs://`` (and any FS with atomic directory rename) works as-is
    on a real cluster. Object-store schemes (s3/s3a/s3n/gs/abfs/abfss/
    wasb/wasbs/oss/cos) are rejected up front: their "rename" is a
    non-atomic copy, so the generation swap could be observed half
    done — route those commits through the manifest-gated writer in
    ``storage`` instead, which exists precisely because object stores
    have no atomic rename.

    Read the live state any time with :func:`read_sketch_state`.
    """

    def fold(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        part = build(batch_df)
        return merge(prev.unionByName(part)) if prev is not None else merge(part)

    return _generation_sink(stream_df, fold, state_path, checkpoint)


def _generation_sink(
    stream_df: DataFrame,
    fold: Callable[[DataFrame | None, DataFrame], DataFrame],
    state_path: str,
    checkpoint: str,
):
    """The shared exactly-once generation-commit machinery behind
    :func:`sketch_state_sink` and :func:`cdc_state_sink`: per
    micro-batch, ``fold(previous_state_or_None, batch)`` produces the
    next full state, committed as an atomic ``sketch-<epoch>`` directory
    rename with crash-replay idempotence, the checkpoint-identity
    marker, the epoch-monotonicity reset guard, and superseded-
    generation pruning — see sketch_state_sink's docstring for the
    contract each guard enforces."""
    parsed = urllib.parse.urlparse(state_path)
    if parsed.scheme in _OBJECT_STORE_SCHEMES:
        raise ValueError(
            f"state sink state_path {state_path!r} is on an object "
            "store, where rename is a non-atomic copy and the generation "
            "swap could be observed half-committed — use the "
            "manifest-gated writer in artigraph_spark.storage instead"
        )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        fs, root = _hadoop_fs(spark, state_path)
        marker = _hadoop_path(spark, state_path, "_checkpoint_marker")
        ck_id = str(
            _hadoop_fs(spark, checkpoint)[0].makeQualified(
                _hadoop_fs(spark, checkpoint)[1]
            )
        )
        gens = _hadoop_generations(spark, fs, state_path)
        # Checkpoint-identity marker: the epoch-monotonicity guard below
        # cannot catch a DIFFERENT checkpoint restarting at epoch 0
        # against a state whose live generation is also 0 (0 < 0 is
        # false, and the ==0 replay skip would silently drop the batch).
        # Pinning the checkpoint path that built the state closes that
        # case. Residual hole (documented): deleting and recreating the
        # SAME checkpoint path after exactly one committed epoch is
        # indistinguishable from a crash replay of epoch 0.
        if fs.exists(marker) and fs.getFileStatus(marker).isFile():
            prev_ck = _hadoop_read_text(spark, fs, marker).strip()
            if prev_ck != ck_id:
                raise RuntimeError(
                    f"sketch state at {state_path} was built by stream "
                    f"checkpoint {prev_ck!r} but this stream uses "
                    f"{ck_id!r} — merging two stream lineages would "
                    "double-count. Clear state_path to rebuild, or keep "
                    "the original checkpointLocation."
                )
        else:
            fs.mkdirs(root)
            _hadoop_write_text(spark, fs, marker, ck_id)
        if gens and epoch_id < gens[-1][0]:
            # Epoch ids behind the live generation mean the caller
            # restarted with a FRESH stream checkpoint against existing
            # state: merging would double-count the replayed batches and
            # the batch matching the live epoch would be silently
            # dropped. Refuse loudly instead of corrupting state.
            raise RuntimeError(
                f"sketch state at {state_path} is at epoch {gens[-1][0]} "
                f"but the stream delivered epoch {epoch_id} — the stream "
                "checkpoint was reset against existing state. Clear "
                "state_path to rebuild from scratch, or restart with the "
                "original checkpointLocation to continue incrementally."
            )
        if any(e == epoch_id for e, _ in gens):
            return  # crash-replayed epoch: its generation already committed
        prev = spark.read.parquet(gens[-1][1]) if gens else None
        merged = fold(prev, batch_df)
        fs.mkdirs(root)
        tmp = _hadoop_path(spark, state_path, f".tmp-{epoch_id}")
        merged.write.mode("overwrite").parquet(str(fs.makeQualified(tmp)))
        dst = _hadoop_path(spark, state_path, f"sketch-{epoch_id}")
        if not fs.rename(tmp, dst):
            raise RuntimeError(
                f"sketch state commit rename failed: {tmp} -> {dst} "
                "(destination already exists or filesystem refused)"
            )
        for _, p in gens:  # prune superseded generations
            fs.delete(_hadoop_fs(spark, p)[1], True)

    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def read_sketch_state(spark, state_path: str) -> DataFrame:
    """The live (highest-epoch) sketch generation maintained by
    :func:`sketch_state_sink`; raises if no generation has committed.
    Discovery goes through the Hadoop FileSystem API, so any
    ``state_path`` the sink accepts is readable here."""
    fs, _ = _hadoop_fs(spark, state_path)
    gens = _hadoop_generations(spark, fs, state_path)
    if not gens:
        raise FileNotFoundError(f"no committed sketch state under {state_path}")
    return spark.read.parquet(gens[-1][1])


def cdc_state_sink(
    stream_df: DataFrame,
    *,
    key_col: str,
    order_cols: Sequence[str],
    op_col: str = "op",
    state_path: str,
    checkpoint: str,
    upsert: str = "U",
    delete: str = "D",
):
    """Maintain a keyed snapshot over a CDC change stream — streaming
    MERGE INTO: each micro-batch of changes folds into the persisted
    state with last-writer-wins decided by ``order_cols`` (the change's
    OWN ordering — commit timestamp + change id — never arrival order),
    so the maintained state equals ``operators.quality.cdc_apply`` of
    the full changelog no matter how the changes were batched or
    interleaved. Deletes are kept in the state as TOMBSTONES rather
    than removed: a late-arriving upsert that is older (by
    ``order_cols``) than an applied delete must lose, and only the
    retained tombstone can outrank it. :func:`read_cdc_state` filters
    tombstones out of the answer. Compact by clearing state_path and
    re-seeding from a snapshot once tombstones dominate.

    Per-batch work: one per-key window top-1 over (previous state ∪
    batch) — O(state + batch) with WindowGroupLimit pruning below the
    exchange; state is O(live keys + tombstones). ``order_cols`` must
    totally order each key's changes across the whole stream (same
    precondition as cdc_apply). Commit machinery (atomic generation
    rename, crash-replay idempotence, checkpoint-identity marker,
    reset guard, Hadoop-FS routing) is shared with
    :func:`sketch_state_sink`.
    """
    if not order_cols:
        raise ValueError("cdc_state_sink needs order_cols to totally order changes")
    from pyspark.sql import Window

    def fold(prev: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        w = Window.partitionBy(key_col).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        changes = (
            batch_df.filter(F.col(key_col).isNotNull())
            .withColumn(
                op_col,
                F.when(
                    F.col(op_col).isin(upsert, delete), F.col(op_col)
                ).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit("cdc_state_sink: unknown op value "),
                            F.col(op_col),
                        )
                    )
                ),
            )
        )
        cur = changes if prev is None else prev.unionByName(changes)
        return (
            cur.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    return _generation_sink(stream_df, fold, state_path, checkpoint)


def read_cdc_state(
    spark,
    state_path: str,
    *,
    op_col: str = "op",
    delete: str = "D",
) -> DataFrame:
    """The live snapshot maintained by :func:`cdc_state_sink` — the
    latest generation with delete tombstones filtered out."""
    return read_sketch_state(spark, state_path).filter(
        F.col(op_col) != F.lit(delete)
    )


# Object-store filesystems have copy-based, non-atomic "rename" — the
# generation-swap commit below must not run on them.
_OBJECT_STORE_SCHEMES = frozenset(
    {"s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos"}
)


def _hadoop_fs(spark, path_str: str):
    """(FileSystem, Path) for ``path_str``'s scheme via the JVM Hadoop
    API — local FS for bare/file:// paths, HDFS for hdfs://, etc."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _hadoop_path(spark, base: str, name: str):
    return spark._jvm.org.apache.hadoop.fs.Path(
        spark._jvm.org.apache.hadoop.fs.Path(base), name
    )


def _hadoop_generations(spark, fs, state_path: str) -> list[tuple[int, str]]:
    """Committed ``sketch-<epoch>`` generation dirs under ``state_path``,
    sorted by epoch, as (epoch, qualified path string)."""
    root = spark._jvm.org.apache.hadoop.fs.Path(state_path)
    if not fs.exists(root):
        return []
    out = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if name.startswith("sketch-"):
            try:
                out.append((int(name.split("-", 1)[1]), str(status.getPath())))
            except ValueError:
                continue
    return sorted(out)


def _hadoop_read_text(spark, fs, hpath) -> str:
    stream = fs.open(hpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _hadoop_write_text(spark, fs, hpath, text: str) -> None:
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def stateful_transitions(events: DataFrame) -> DataFrame:
    """Stateful streaming sequence mining: per-user (src → dst) next-event
    pairs across micro-batch boundaries via ``applyInPandasWithState`` —
    the streaming twin of ``operators.timeseries.transition_matrix``'s
    pair extraction. Each user's state is their LAST event
    (µs timestamp, event id, type); a batch sorts its own rows by
    ``(ts, event_id)`` (intra-batch disorder is fine), stitches the
    carried last event onto the front, emits every consecutive pair in
    append mode, and stores the new last event.

    ORDER CONTRACT: across batches the source must deliver each user's
    events in event-time order (the log-tail/CDC shape) — a later batch
    carrying an EARLIER event would stitch a pair that never happened.
    Within a batch, order is free. State is three scalars per user;
    output pairs are append-only, so the downstream transition matrix is
    a plain batch aggregate over the collected pairs.

    Batch twin parity: ``transition_matrix(events, ...)``'s pair multiset
    equals the union of emitted pairs when the order contract holds —
    asserted over a time-sliced bounded stream in tests.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.dropna(subset=["ts", "event_type"])
        if len(batch) == 0:
            yield pd.DataFrame({"user_id": [], "src": [], "dst": []})
            return
        batch["__us"] = batch["ts"].astype("int64") // 1000
        batch = batch.sort_values(["__us", "event_id"], kind="mergesort")
        types = batch["event_type"].tolist()
        if state.exists:
            _last_us, _last_id, last_type = state.get
            seq = [last_type, *types]
        else:
            seq = types
        last = batch.iloc[-1]
        state.update((int(last["__us"]), int(last["event_id"]), str(last["event_type"])))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * (len(seq) - 1),
                "src": seq[:-1],
                "dst": seq[1:],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, src string, dst string",
        stateStructType="last_us long, last_id long, last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
