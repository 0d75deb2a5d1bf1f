"""Event-analytics operators shared by the declared queries and the
framework demos — one definition each so the oracle-locked query logic and
pipeline producers cannot drift apart.

All inputs are (ts timestamp, user_id, event_type, ...) event frames;
every shuffle is keyed on the user or the (type, window) pair.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from artigraph_spark.operators._checkpoint import checkpoint as _ckpt


def funnel_stages(
    e: DataFrame,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered three-stage conversion funnel: each stage's timestamp is the
    earliest qualifying event STRICTLY AFTER the previous stage (the
    sequential-pattern shape ANSI engines express with MATCH_RECOGNIZE).
    Three per-user conditional min-aggregates chained by equi-joins on the
    user — every shuffle is key-partitioned on the user, so the funnel
    co-locates and scales with user cardinality, never event volume.

    Returns (user_col, t1, t2, t3, stage_reached) with t2/t3 NULL where the
    user never converted; timestamps stay raw (µs-exact) for the caller to
    format.
    """
    a, b, c = stages
    u, ts = F.col(user_col), F.col(ts_col)
    s1 = e.filter(F.col("event_type") == a).groupBy(user_col).agg(
        F.min(ts_col).alias("t1")
    )
    s2 = (
        e.filter(F.col("event_type") == b)
        .join(s1.select(u.alias("__u1"), "t1"), (u == F.col("__u1")) & (ts > F.col("t1")))
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == c)
        .join(s2.select(u.alias("__u2"), "t2"), (u == F.col("__u2")) & (ts > F.col("t2")))
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t3"))
    )
    return (
        s1.join(s2.select(u.alias("__ub"), "t2"), u == F.col("__ub"), "left")
        .join(s3.select(u.alias("__uc"), "t3"), u == F.col("__uc"), "left")
        .select(
            user_col,
            "t1",
            "t2",
            "t3",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .alias("stage_reached"),
        )
    )


def hourly_anomalies(
    e: DataFrame,
    ts_col: str = "ts",
    sigmas: float = 2.0,
) -> DataFrame:
    """Hourly event-volume cells more than ``sigmas`` standard deviations
    from their event type's own hourly mean. Counts are integers; mean and
    sample-stddev go through the fixed-point moment sums, so the z-scores —
    and the boundary decision — are bit-identical across engines. Two
    aggregates plus a broadcast join of the per-type stats row; the hourly
    groupBy is the only data-sized shuffle.

    Returns (event_type, w timestamp, n, zscore_r).
    """
    from artigraph_spark.functions import davg, dstddev_samp

    hourly = (
        e.groupBy(F.window(ts_col, "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", F.col("w.start").alias("w"), "n")
    )
    stats = hourly.groupBy("event_type").agg(
        davg("n").alias("mu"), dstddev_samp("n").alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter((F.col("sigma") > 0) & (F.abs(z) > F.lit(sigmas)))
        .select("event_type", "w", "n", F.round(z, 6).alias("zscore_r"))
    )


def time_rollup(
    e: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    bits: int = 20,
) -> DataFrame:
    """Hypertable-style multi-granularity rollup: hour → day → month
    aggregates where each coarser level RE-AGGREGATES the finer level's
    partials instead of rescanning the events — the continuous-aggregate
    pattern. Counts re-sum exactly; the value sum rides the shared
    fixed-point encoding (``functions.fxp`` — an exact integer at every
    level), so hour partials roll into days and months with zero drift:
    SUM(day) == SUM(hours of that day) bit-for-bit. NULL/NaN values are
    excluded up front (a NaN would otherwise crash the oracle's cast and
    silently count as 0 in non-ANSI Spark).

    One data-sized shuffle (the hourly groupBy); the day and month levels
    shuffle only the hourly/daily summary rows. Returns
    (level, bucket_start, n, total_value) — total_value is the descaled
    double, like the streaming totals — for levels hour/day/month.
    """
    from artigraph_spark.functions import fxp

    v = F.col(value_col)
    clean = e.filter(v.isNotNull() & ~F.isnan(v.cast("double")))
    # The fixed-point partials ride DECIMAL(38,0) through every level: a
    # month's raw value total past ~8.8e12 (at bits=20) overflows a plain
    # int64 re-sum — ANSI abort or silent wraparound at exactly the scale
    # the zero-drift claim is for. Exact integers either way.
    hourly = (
        clean.groupBy(F.date_trunc("hour", F.col(ts_col)).alias("b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(fxp(value_col, bits).cast("decimal(38,0)")).alias("__fx"),
        )
    )
    daily = (
        hourly.groupBy(F.date_trunc("day", F.col("b")).alias("b"))
        .agg(F.sum("n").alias("n"), F.sum("__fx").alias("__fx"))
    )
    monthly = (
        daily.groupBy(F.date_trunc("month", F.col("b")).alias("b"))
        .agg(F.sum("n").alias("n"), F.sum("__fx").alias("__fx"))
    )

    def _lvl(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("level"),
            F.col("b").alias("bucket_start"),
            "n",
            (F.col("__fx").cast("double") / F.lit(float(1 << bits))).alias(
                "total_value"
            ),
        )

    return (
        _lvl(hourly, "hour")
        .unionByName(_lvl(daily, "day"))
        .unionByName(_lvl(monthly, "month"))
    )


def trend_slopes(
    df,
    group_col: str,
    ts_col: str,
    *,
    bucket_seconds: int = 3600,
    origin_epoch: int = 1704067200,
):
    """Per-group linear trend of event volume over time: bucket the
    timestamps, count per (group, bucket), then the closed-form least-
    squares slope over (bucket_index, count) — the
    "is this event type growing?" primitive.

    All five sufficient statistics (n, Σx, Σy, Σxy, Σx²) are exact
    DECIMAL(38,0)-widened integer sums (x = whole buckets since ``origin_epoch``, y = bucket
    counts), so the slope — one double division of two exact int64s —
    is bit-identical on any engine/partitioning, and a DuckDB oracle
    replays it. Groups need ≥2 distinct buckets (the variance denominator
    is 0 otherwise — such groups are emitted with NULL slope).

    Scale: one data-sized shuffle (the bucket groupBy, map-side partials);
    the regression itself aggregates ≤buckets rows per group. Returns
    ``(group, n_buckets, slope)`` with slope in events per bucket.
    """

    if bucket_seconds <= 0:
        raise ValueError(f"bucket_seconds must be positive, got {bucket_seconds}")
    x = F.floor(
        (F.unix_timestamp(F.col(ts_col)) - F.lit(int(origin_epoch)))
        / F.lit(float(bucket_seconds))
    ).cast("long")
    per_bucket = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(F.col(group_col), x.alias("__x"))
        .agg(F.count(F.lit(1)).alias("__y"))
    )
    # sufficient statistics in DECIMAL(38,0): x*x for a bucket index far
    # from origin_epoch (1970 sentinel timestamps at bucket_seconds=1 put
    # x near -1.7e9, x*x near 2.9e18) overflows int64 — ANSI abort, or a
    # silently garbage slope with ANSI off. Decimal sums/products are
    # exact; the slope is still one double division at the end.
    xd = F.col("__x").cast("decimal(38,0)")
    yd = F.col("__y").cast("decimal(38,0)")
    stats = per_bucket.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(xd).alias("__sx"),
        F.sum(yd).alias("__sy"),
        F.sum(xd * F.col("__y")).alias("__sxy"),
        F.sum(xd * F.col("__x")).alias("__sxx"),
    )
    nb = stats["n_buckets"].cast("decimal(38,0)")
    den = nb * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    num = nb * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    return stats.select(
        group_col,
        "n_buckets",
        F.when(den != 0, num.cast("double") / den.cast("double")).alias("slope"),
    )


def ewma_buckets(
    df,
    bucket_col,
    value_col: str,
    *,
    window_buckets: int = 8,
    bits: int = 20,
):
    """Trailing exponentially weighted moving average per time bucket
    with EXACT dyadic weights — the smoothed "current rate" primitive
    (alert baselines, rate limiting, trend dashboards) that plain
    moving averages lag behind.

    Per-bucket value sums are fixed-point int64 (exact, associative);
    bucket b contributes to targets t ∈ [b, b+W-1] with integer weight
    2^(W-1-(t-b)) — a halving per step of age, so every weight is an
    exact power of two and the numerator/denominator pair is exact
    integer arithmetic (weights and the denominator in int64; the
    weight×sum products widened to DECIMAL(38,0) — int64 alone
    overflows inside the weight range). Missing buckets contribute
    nothing and are
    excluded from the weight mass (the EWMA of the buckets that exist),
    keeping the result engine-replayable with no float-decay drift.
    Returns ``(bucket, n_contrib, ewma)`` for every present bucket;
    ewma is the single final double division.

    Scale shape: one data-sized groupBy to per-bucket sums, then the
    explode-forward/merge pattern shared with the sliding-sketch trio —
    summary-sized work, ≤ W rows touched per answered bucket.

    Split as :func:`ewma_state` (the mergeable per-bucket sums — sum
    them across snapshots or micro-batches, e.g. through
    ``streaming.sketch_state_sink``) + :func:`ewma_from_state` (answer
    any window from stored state without reprocessing history).
    """
    return ewma_from_state(
        ewma_state(df, bucket_col, value_col, bits=bits),
        window_buckets=window_buckets,
        bits=bits,
    )


def ewma_state(df, bucket_col: Column | str, value_col: str, *, bits: int = 20):
    """The mergeable state behind :func:`ewma_buckets`: exact
    fixed-point per-bucket sums ``(__b, __s)``. Merges across
    partitions/snapshots/micro-batches by ``groupBy(__b).sum(__s)`` —
    the CMS-cell analogue for plain sums."""

    from artigraph_spark.functions import fxp

    bucket_col = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    v = F.col(value_col)
    return (
        # NaN rows drop like NULLs BEFORE the fixed-point cast: fxp(NaN)
        # is 0 in non-ANSI Spark (phantom zero-sum buckets entering the
        # weight mass) and an abort under ANSI — the oracle twin
        # pre-filters NOT isnan, so the state must too.
        df.filter(v.isNotNull() & ~F.isnan(v.cast("double")))
        .select(
            bucket_col.cast("long").alias("__b"),
            fxp(v, bits).alias("__v"),
        )
        .filter(F.col("__b").isNotNull())
        .groupBy("__b")
        .agg(F.sum("__v").alias("__s"))
    )


def ewma_from_state(per_bucket, *, window_buckets: int = 8, bits: int = 20):
    """Answer the trailing EWMA from :func:`ewma_state` output — see
    :func:`ewma_buckets` for the semantics. Summary-sized only."""

    if window_buckets <= 0 or window_buckets > 62:
        raise ValueError(
            f"window_buckets must be in [1, 62] (dyadic weights must fit "
            f"int64), got {window_buckets}"
        )
    present = per_bucket.select(F.col("__b").alias("bucket")).distinct()
    fwd = F.explode(
        F.sequence(F.col("__b"), F.col("__b") + F.lit(window_buckets - 1))
    ).alias("bucket")
    # exact dyadic weights by age, as an array literal indexed by lag —
    # shiftleft needs a literal bit count and pow() loses exactness past
    # 2^53, so neither works for a column-valued exponent
    weights = F.array(
        *[
            F.lit(1 << (window_buckets - 1 - lag)).cast("long")
            for lag in range(window_buckets)
        ]
    )
    contrib = (
        per_bucket.select(fwd, "__b", "__s")
        .join(present, "bucket", "left_semi")
        .withColumn(
            "__w",
            F.element_at(
                weights, (F.col("bucket") - F.col("__b") + 1).cast("int")
            ),
        )
    )
    # the weight×sum products can exceed int64 well inside the [1, 62]
    # weight guard (w up to 2^61 times data-sized sums) — widen the
    # product to DECIMAL(38,0) so the numerator stays exact; the oracle
    # twin widens through HUGEINT the same way
    return (
        contrib.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_contrib"),
            F.sum(
                F.col("__w").cast("decimal(38,0)") * F.col("__s")
            ).alias("__num"),
            F.sum("__w").alias("__den"),
        )
        .select(
            "bucket",
            "n_contrib",
            (
                F.col("__num").cast("double")
                / (F.col("__den").cast("double") * F.lit(float(1 << bits)))
            ).alias("ewma"),
        )
    )


def inter_event_gaps(df, group_col: str, ts_col: str):
    """Per-group inter-event time statistics: the gaps between
    consecutive events (ordered by timestamp) summarised as
    ``(group, n_events, n_gaps, avg_gap_s, max_gap_s)`` — session
    cadence / heartbeat-health per user or device.

    Gaps are integer second differences of the SORTED timestamp
    sequence, which is unique as a value sequence regardless of how
    equal timestamps tie-break, so the gap multiset — and every
    statistic over it — is engine- and partitioning-deterministic.
    ``avg_gap_s`` is the single final double division of two exact
    int64s, rounded to 9 decimals. Groups with one event emit
    ``n_gaps = 0`` and NULL gap stats.

    Scale: ONE exchange (the per-group window sort); everything after
    is a per-group aggregate.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.col("__t"))
    ts = (
        df.filter(F.col(group_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(F.col(group_col), F.unix_timestamp(F.col(ts_col)).alias("__t"))
    )
    gapped = ts.withColumn("__gap", F.col("__t") - F.lag("__t").over(w))
    return (
        gapped.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("__gap").alias("n_gaps"),
            F.round(
                F.sum("__gap").cast("double") / F.count("__gap"), 9
            ).alias("avg_gap_s"),
            F.max("__gap").alias("max_gap_s"),
        )
    )


def transition_matrix(
    df,
    group_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str,
):
    """First-order Markov transition matrix over per-group event sequences:
    for every observed ``(src, dst)`` state pair, how often ``dst``
    immediately follows ``src`` and the conditional probability
    ``P(dst | src)`` — the sequence-mining summary behind next-action
    models, funnel sanity checks, and bot detection.

    Sequences order by ``(ts, tiebreak)`` within each group, so equal
    timestamps break deterministically and the pair multiset is
    engine-replayable. Rows with NULL group/ts/state drop (no sequence
    position); each group's last event emits no pair. ``prob`` is the
    single final double division of two exact int64 counts, rounded to 9
    decimals.

    Scale: one exchange (the per-group window sort) to form pairs, one
    summary-sized (src, dst) count aggregate, and a window over the
    TINY |states|² matrix for the row totals — nothing global touches
    row data after the first aggregate.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        df.filter(
            F.col(group_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(state_col).isNotNull()
        )
        .select(F.col(state_col), F.lead(state_col).over(w).alias("dst"))
        .filter(F.col("dst").isNotNull())
        # renamed above the window: an alias below it would ride the
        # exchange beside the state column it copies
        .withColumnRenamed(state_col, "src")
    )
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_transitions"))
    total = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double") / F.sum("n_transitions").over(total),
            9,
        ).alias("prob"),
    )


def scd2_intervals(df, key_col: str, ts_col: str, id_col: str):
    """Slowly-changing-dimension (type 2) validity intervals: order each
    key's records by ``(ts, id)`` and emit ``[valid_from_s, valid_to_s)``
    where each record's validity ends when the next begins — the
    standard "effective-dated history" shape warehouses build from
    event-sourced records. The final record per key has NULL
    ``valid_to_s`` (current). ``id_col`` must uniquely identify records:
    it breaks timestamp ties so interval assignment is deterministic.

    Timestamps become integer epoch seconds, so every boundary is exact
    and oracle-replayable. One exchange (per-key window sort).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(F.col("__t"), F.col(id_col))
    return (
        df.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(key_col),
            F.col(id_col),
            F.unix_timestamp(F.col(ts_col)).alias("__t"),
        )
        .select(key_col, id_col, "__t", F.lead("__t").over(w).alias("valid_to_s"))
        # renamed above the window, so the exchange ships __t once
        .withColumnRenamed("__t", "valid_from_s")
    )


def cusum_scores(
    df,
    ts_col: str,
    *,
    bucket_seconds: int = 3600,
):
    """CUSUM changepoint scores over a bucketed event-count series: for
    each time bucket t (ordered), the cumulative deviation of observed
    counts from the all-buckets mean — the classic "where did the rate
    shift?" statistic whose |max| locates the most likely changepoint.

    Exactness: with N buckets and total count T, the textbook score
    S_t = Σ_{i≤t} (y_i − T/N) is rational; multiplying through by N
    gives ``s_scaled = N·Σ_{i≤t} y_i − t·T`` — pure int64 arithmetic
    both engines compute identically (safe while N·T < 2^63; at
    N ≈ 10^5 hourly buckets that allows ~10^13 events). Only observed
    buckets enter the series (missing hours are skipped, not
    zero-filled — compose with gap-fill first when absence should count
    as a zero observation).

    Scale shape: ONE data-sized shuffle (the bucket groupBy with
    map-side partials); the prefix sum is a global-order window over the
    SUMMARY-sized per-bucket table (≤ N rows, hours-per-year scale —
    the same single-partition summary walk as the histogram quantile
    family). Returns ``(bucket_s, n, s_scaled)`` per observed bucket.
    """
    if bucket_seconds <= 0:
        raise ValueError(f"bucket_seconds must be positive, got {bucket_seconds}")
    from pyspark.sql import Window

    b = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(bucket_seconds)).cast("long")
        * F.lit(bucket_seconds)
    )
    per_bucket = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(b.alias("bucket_s"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_pre = Window.orderBy("bucket_s").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("bucket_s").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_buckets = F.count(F.lit(1)).over(w_all)
    total = F.sum("n").over(w_all)
    prefix = F.sum("n").over(w_pre)
    t_idx = F.row_number().over(Window.orderBy("bucket_s"))
    return per_bucket.select(
        "bucket_s",
        "n",
        (n_buckets * prefix - t_idx * total).alias("s_scaled"),
    )


def acf_lags(
    df,
    ts_col: str,
    *,
    bucket_seconds: int = 3600,
    max_lag: int = 24,
):
    """Sample autocorrelation of the bucketed event-count series at lags
    1..max_lag — the seasonality probe (a daily cycle shows as a peak at
    lag 24 on hourly buckets) behind periodicity detection and forecast
    model selection.

    Exactness: with N observed buckets and total T, the mean-centered
    deviation N·y_t − T is exact int64; numerator and denominator are
    sums of deviation products widened to DECIMAL(38,0) (the products
    reach (N·T)², past int64 — same widening as :func:`trend_slopes`),
    and ``acf_r`` is the single double division at the end, identical
    on any engine/partitioning while the sums stay within double's 2^53
    integer range after the decimal→double cast (N·T ≤ ~3e7 guarantees
    it; far beyond any bucket-count series). Buckets are the OBSERVED
    ones in time order (compose with gap-fill to zero-fill absences);
    lag pairs that fall off the series start are excluded (n_pairs =
    N − lag), the standard non-circular estimator with the common-mean
    convention.

    Scale shape: one data-sized shuffle to per-bucket counts, then all
    window work runs over the summary-sized series (≤ N rows); the
    max_lag lag columns are one window pass. Returns
    ``(lag, n_pairs, acf_r)``, one row per lag 1..max_lag.
    """
    if bucket_seconds <= 0:
        raise ValueError(f"bucket_seconds must be positive, got {bucket_seconds}")
    if max_lag <= 0:
        raise ValueError(f"max_lag must be positive, got {max_lag}")
    from pyspark.sql import Window

    b = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(bucket_seconds)).cast("long")
        * F.lit(bucket_seconds)
    )
    per_bucket = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__y"))
    )
    w_all = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_ord = Window.orderBy("__b")
    dev = (
        F.count(F.lit(1)).over(w_all) * F.col("__y") - F.sum("__y").over(w_all)
    ).alias("__d")
    base = per_bucket.select(F.col("__b"), dev)
    lagged = base.select(
        F.col("__d"),
        *[F.lag("__d", k).over(w_ord).alias(f"__l{k}") for k in range(1, max_lag + 1)],
    )
    dd = F.col("__d").cast("decimal(38,0)")
    agg = lagged.agg(
        F.sum(dd * F.col("__d")).alias("__den"),
        *[
            F.sum(dd * F.col(f"__l{k}")).alias(f"__num{k}")
            for k in range(1, max_lag + 1)
        ],
        *[F.count(F.col(f"__l{k}")).alias(f"__np{k}") for k in range(1, max_lag + 1)],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("lag"),
                F.col(f"__np{k}").alias("n_pairs"),
                (
                    F.col(f"__num{k}").cast("double")
                    / F.col("__den").cast("double")
                ).alias("acf_r"),
            )
            for k in range(1, max_lag + 1)
        ]
    )
    return (
        agg.select(F.explode(pairs).alias("__r"))
        .select("__r.lag", "__r.n_pairs", "__r.acf_r")
    )


def attribute_conversions(
    e,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view"),
    lookback_seconds: int = 7 * 86400,
    model: str = "last",
    bits: int = 20,
):
    """Marketing-style conversion attribution: credit each conversion
    event to the touch events (clicks/views) that preceded it within a
    per-user lookback window. ``model``:

    - ``"last"`` / ``"first"``: the single latest/earliest qualifying
      touch takes the whole conversion (credit 1). Winner selection is a
      struct min/max over ``(ts, id)`` — exact µs timestamps with the
      unique event id as tiebreak, so the choice is deterministic and
      oracle-replayable.
    - ``"linear"``: every qualifying touch takes ``floor(2^bits / k)``
      fixed-point credit for a k-touch conversion — exact integers, no
      order-dependent float splits (credits per conversion sum to ≤ 2^bits,
      short by at most k−1 ulps from the floor).

    Conversions with NO qualifying touch are kept under channel
    ``"none"`` with full credit — dropping them would silently understate
    conversion volume. Returns one row per (conversion, touch|none):
    ``(conv_id, channel, credit_fx)`` with credit_fx on the 2^bits scale;
    aggregate by channel downstream.

    Scale shape: the conversion×touch pair join is an equi-join on the
    user with the time-window residual — per-user work bounded by touch
    counts in the lookback (salt heavy users if the skew audit says so);
    the winner/credit groupBy is keyed on the conversion id. No windows,
    no driver-side state.
    """
    if model not in ("last", "first", "linear"):
        raise ValueError(f"model must be last/first/linear, got {model!r}")
    if lookback_seconds <= 0:
        raise ValueError(f"lookback_seconds must be positive, got {lookback_seconds}")
    one = 1 << bits
    conv = e.filter(F.col(type_col) == conversion_type).select(
        F.col(user_col).alias("__u"),
        F.col(id_col).alias("conv_id"),
        F.col(ts_col).alias("__cts"),
    )
    tch = e.filter(F.col(type_col).isin(*touch_types)).select(
        F.col(user_col).alias("__u"),
        F.col(id_col).alias("__tid"),
        F.col(ts_col).alias("__tts"),
        F.col(type_col).alias("__ch"),
    )
    pairs = conv.join(
        tch,
        (conv["__u"] == tch["__u"])
        & (F.col("__tts") < F.col("__cts"))
        & (
            F.col("__tts")
            >= F.col("__cts") - F.expr(f"INTERVAL {int(lookback_seconds)} SECONDS")
        ),
    ).select("conv_id", "__tts", "__tid", "__ch")
    if model == "linear":
        counts = pairs.groupBy("conv_id").agg(F.count(F.lit(1)).alias("__k"))
        credited = (
            pairs.join(counts, "conv_id")
            .groupBy("conv_id", F.col("__ch").alias("channel"))
            .agg(
                F.sum(F.floor(F.lit(one) / F.col("__k")).cast("long")).alias(
                    "credit_fx"
                )
            )
        )
    else:
        pick = F.max if model == "last" else F.min
        best = pairs.groupBy("conv_id").agg(
            pick(F.struct(F.col("__tts"), F.col("__tid"), F.col("__ch"))).alias("__w")
        )
        credited = best.select(
            "conv_id",
            F.col("__w.__ch").alias("channel"),
            F.lit(one).cast("long").alias("credit_fx"),
        )
    return (
        conv.select("conv_id")
        .join(credited, "conv_id", "left")
        .select(
            "conv_id",
            F.coalesce(F.col("channel"), F.lit("none")).alias("channel"),
            F.coalesce(F.col("credit_fx"), F.lit(one).cast("long")).alias("credit_fx"),
        )
    )


def event_paths(
    e,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    length: int = 3,
    top_k: int = 20,
):
    """Top-k most common event paths (sequential n-grams of event types
    per user, ordered by time) — "what do users actually do" flow mining
    behind Sankey funnels and next-action models. A path is ``length``
    consecutive events joined with ``>`` (e.g. ``view>click>purchase``);
    each user contributes one path per starting event.

    Ordering is ``(ts, id)`` — exact µs timestamps, unique-id tie-break
    — so each user's sequence, and therefore the path multiset, is
    deterministic. Scale: ONE per-user window sort (lead() × length−1,
    data colocated by user) into a map-side-combined path count; top-k
    totally ordered by (count desc, path).
    """
    if length < 2:
        raise ValueError(f"length must be >= 2, got {length}")
    if top_k <= 0:
        raise ValueError(f"top_k must be positive, got {top_k}")
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(id_col))
    steps = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, length)
    ]
    path = F.concat_ws(">", *steps)
    complete = F.lead(type_col, length - 1).over(w).isNotNull()
    return (
        e.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(path.alias("path"), complete.alias("__ok"))
        .filter(F.col("__ok"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), F.col("path"))
        .limit(top_k)
    )


def rfm_segments(
    e,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    event_type: str = "purchase",
    type_col: str = "event_type",
    quantiles: int = 5,
    bits: int = 20,
):
    """RFM (recency / frequency / monetary) customer segmentation: per
    user with ≥1 qualifying event, days since their last event (vs the
    corpus-wide latest), their event count, and their fixed-point value
    total — each scored into ``quantiles`` buckets by ntile, combined as
    ``rfm_code = r·100 + f·10 + m`` (recency quantile 1 = most recent).

    Exactness: recency is whole days from exact µs arithmetic
    (truncating division of non-negative int64); monetary totals are
    fixed-point int64 sums; every ranking carries the user id as
    tie-break, so bucket assignment is total-ordered and replays on any
    engine (the ntile arithmetic reproduces both engines' shared
    floor-distribution ntile exactly — verified against the native
    ntile oracle).

    Scale (r9): one user-keyed aggregate, a broadcast one-row
    global-max join, then three BUCKETED distributed row_numbers
    (:func:`operators._ranks.bucketed_row_numbers` — range-bucket
    offsets + within-bucket local windows) with the ntile edge mapped
    as a pure integer projection of (rank, n)
    (:func:`operators._ranks.ntile_from_rank`). The pre-r9 form ran
    three GLOBAL ntile windows, each a user-count-sized
    single-partition sort — a billion-user corpus would park on one
    core three times; now sort parallelism is ``buckets`` per ranking.
    The per-user summary is persisted across its consuming branches
    and released after the eager result materialization (the
    association_rules convention).
    Returns ``(user, recency_days, frequency, monetary, r_q, f_q, m_q,
    rfm_code)``.
    """
    if quantiles < 2:
        raise ValueError(f"quantiles must be >= 2, got {quantiles}")
    from pyspark import StorageLevel

    from artigraph_spark.functions import fxp
    from artigraph_spark.operators._ranks import (
        bucketed_row_numbers,
        ntile_from_rank,
    )

    v = F.col(value_col)
    clean = F.when(v.isNotNull() & ~F.isnan(v.cast("double")), v)
    per_user = (
        e.filter((F.col(type_col) == event_type) & F.col(user_col).isNotNull())
        .groupBy(user_col)
        .agg(
            F.max(F.unix_micros(F.col(ts_col).cast("timestamp"))).alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.coalesce(F.sum(fxp(clean, bits)), F.lit(0)).alias("__m"),
        )
    )
    latest = per_user.agg(F.max("__last").alias("__gmax"))
    scored = per_user.crossJoin(F.broadcast(latest)).select(
        user_col,
        F.expr("(__gmax - __last) div 86400000000").alias("recency_days"),
        "frequency",
        (F.col("__m").cast("double") / F.lit(float(1 << bits))).alias("monetary"),
        F.col("__m"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_frame = scored.agg(F.count(F.lit(1)).alias("__nu"))

        def rank_map(col: str, desc: bool, out: str):
            slim = scored.select(user_col, col)
            return bucketed_row_numbers(
                slim, col, [user_col], descending=desc, out_col=out
            ).select(user_col, out)

        rr = rank_map("recency_days", False, "__rr")
        rf = rank_map("frequency", True, "__rf")
        rm = rank_map("__m", True, "__rm")
        full = (
            scored.join(rr, user_col)
            .join(rf, user_col)
            .join(rm, user_col)
            .crossJoin(F.broadcast(n_frame))
        )
        r_q = ntile_from_rank("__rr", "__nu", quantiles)
        f_q = ntile_from_rank("__rf", "__nu", quantiles)
        m_q = ntile_from_rank("__rm", "__nu", quantiles)
        out = full.select(
            user_col,
            "recency_days",
            "frequency",
            "monetary",
            r_q.alias("r_q"),
            f_q.alias("f_q"),
            m_q.alias("m_q"),
            (r_q * 100 + f_q * 10 + m_q).cast("long").alias("rfm_code"),
        )
        return _ckpt(out)
    finally:
        scored.unpersist()


def seasonal_naive_mape(
    series: DataFrame,
    group_col: str,
    bucket_col: str,
    value_col: str,
    *,
    season_buckets: int,
) -> DataFrame:
    """Seasonal-naive forecast backtest over a pre-aggregated series:
    forecast(t) = actual(t − season), scored where both exist with
    MAPE = mean |actual − forecast| / actual over actual ≠ 0 — the
    baseline every fancier forecaster must beat, and the quickest
    "does this metric have weekly/daily structure" probe (MAPE(24h)
    ≪ MAPE(1h) ⇒ daily seasonality).

    ``bucket_col`` is an INTEGER bucket index (the ewma/hourly-rollup
    convention — timestamp arithmetic stays out of the join keys). Each
    |a−f|/a ratio is one double division of exact inputs snapped to the
    9-decimal grid; the mean runs through the order-independent
    fixed-point sum, so results replay on any engine/partitioning.

    Scale shape: one equi-join of the series to itself shifted by the
    season (keyed on (group, bucket) — summary-sized both sides) and
    one per-group aggregate. The series itself should already be the
    output of a bucketed aggregation; no raw-event state here.

    Returns ``(group, n_scored, mape_r)``.
    """
    from artigraph_spark.functions import dsum

    cur = series.select(
        F.col(group_col), F.col(bucket_col).alias("__b"), F.col(value_col).alias("__y")
    )
    prev = series.select(
        F.col(group_col),
        (F.col(bucket_col) + F.lit(season_buckets)).alias("__b"),
        F.col(value_col).alias("__f"),
    )
    j = cur.join(prev, [group_col, "__b"]).filter(F.col("__y") != 0)
    ape = F.round(
        F.abs(F.col("__y").cast("double") - F.col("__f").cast("double"))
        / F.col("__y").cast("double"),
        9,
    )
    return (
        j.select(F.col(group_col), ape.alias("__ape"))
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_scored"), dsum(F.col("__ape")).alias("__m"))
        .select(
            group_col,
            "n_scored",
            F.round(F.col("__m") / F.col("n_scored").cast("double"), 9).alias(
                "mape_r"
            ),
        )
    )


def seasonal_decompose(
    df: DataFrame,
    ts_col: str,
    *,
    period: int = 7,
    reuse_output: bool = False,
) -> DataFrame:
    """Classical additive seasonal decomposition of the daily event-count
    series: ``y = trend + seasonal + residual`` with the trend a centered
    ``period``-day moving average, the seasonal component the mean
    detrended value per phase (day-index mod ``period``), centered so the
    seasonal terms sum to ~0 over one cycle, and the residual what's
    left — the textbook pre-STL decomposition every forecasting audit
    starts from (seasonal_naive's explanatory companion).

    ``period`` must be odd (a centered MA of even length needs the 2×m
    double smoothing — use 7 for weekly-in-daily, the common case).

    Exactness: counts are integers, so the trend window SUM and the
    scaled detrended value ``det7 = period·y − trend_sum`` stay pure
    int64; per-phase means go through the fixed-point ``davg`` path and
    the final doubles are snapped to the 9-decimal guard grid — every
    number replays identically cross-engine. Edge days without a full
    window are excluded (standard).

    Scale shape: one bucketing shuffle to the daily series, then
    everything operates on the summary-sized series — the global
    ORDER BY window touches #days rows (a WindowExec single-partition
    warning at bench scale is the documented benign case), the phase
    join broadcasts ``period`` rows, the grand mean rides a single-row
    broadcast cross join.

    Returns ``(day_s, y, phase, trend_r, seasonal_r, resid_r)``.
    ``reuse_output=True`` additionally materializes the RETURNED frame
    (scale-adaptively, same threshold/routing as the internal detrended
    cut) for callers that consume it from several plan branches —
    below the threshold it changes nothing.
    """
    from pyspark.sql import Window

    from artigraph_spark.functions import davg

    if period < 3 or period % 2 == 0:
        raise ValueError(f"period must be odd and >= 3, got {period}")
    half = period // 2
    daily = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(
            F.unix_timestamp(F.date_trunc("day", F.col(ts_col))).alias("day_s")
        )
        .agg(F.count(F.lit(1)).alias("y"))
    )
    w = Window.orderBy("day_s").rowsBetween(-half, half)
    t = daily.select(
        "day_s",
        "y",
        # pmod-of-floor-div, NOT `div`/`%`: Spark's div truncates toward
        # zero while DuckDB's // floors, and both engines' % takes the
        # dividend's sign — pre-1970 (negative-epoch) days would get
        # phases in [-6,6] that disagree cross-engine. pmod(floor, p)
        # keeps phase in [0, p) for any epoch on both sides.
        F.pmod(
            F.expr(
                "day_s div 86400 - CASE WHEN day_s % 86400 < 0 THEN 1 ELSE 0 END"
            ),
            F.lit(period),
        ).cast("int").alias("phase"),
        F.when(
            F.count(F.lit(1)).over(w) == period, F.sum("y").over(w)
        ).alias("__ts"),
    ).filter(F.col("__ts").isNotNull())
    # r14: the detrended series fans out to 2 consumers (the per-phase
    # seasonal means and the final join) — each would re-run the daily
    # bucketing shuffle (the one data-sized pass) plus the trend window.
    # Scale-adaptive single execution of the #days-row frame; no-op at
    # test scale (operators._adaptive.reuse_frame).
    from artigraph_spark.operators._adaptive import reuse_frame

    d = reuse_frame(t.withColumn("__det", F.lit(period) * F.col("y") - F.col("__ts")))
    s = d.groupBy("phase").agg(davg("__det").alias("__s7"))
    g = s.agg(davg(F.round(F.col("__s7"), 9)).alias("__s7bar"))
    pd_ = F.lit(float(period))
    seasonal = F.round((F.col("__s7") - F.col("__s7bar")) / pd_, 9)
    out = (
        d.join(F.broadcast(s), "phase")
        .crossJoin(F.broadcast(g))
        .select(
            "day_s",
            "y",
            "phase",
            F.round(F.col("__ts").cast("double") / pd_, 9).alias("trend_r"),
            seasonal.alias("seasonal_r"),
            F.round(
                F.col("y").cast("double")
                - F.col("__ts").cast("double") / pd_
                - seasonal,
                9,
            ).alias("resid_r"),
        )
    )
    # r15: callers that fan the DECOMPOSED frame out to several branches
    # (stl_outliers: median, deviation, flag) ask for one materialized
    # execution of the whole decomposition with ``reuse_output=True``;
    # the `d` cut carries its input's estimate, so both cuts or neither.
    if reuse_output:
        out = reuse_frame(out)
    return out


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    observed_col: str,
    *,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Kaplan–Meier survival estimator over (duration, observed) rows —
    the standard churn/retention curve with right-censoring handled
    correctly (a user still active at the end of the observation window
    is CENSORED at their observed duration, not counted as churned;
    dropping them, or counting them as events, both bias the curve).

    ``group_cols`` (optional) computes one INDEPENDENT curve per group —
    the cohort/segment comparison every survival analysis ends with
    ("does acquisition channel predict conversion speed?"). Each group
    gets its own risk table, at-risk counts, and product; NULL group
    keys form their own curve (eqNullSafe grouping, the window
    partition convention).

    ``observed_col`` is 1 for an observed event (churn, failure,
    conversion) and 0 for a censored exit. The estimator:
    ``S(t) = Π_{u ≤ t, d_u > 0} (1 − d_u / n_u)`` with d_u the events at
    duration u and n_u the at-risk count (all rows with duration ≥ u).

    Exactness: d_u and n_u are exact int64 (n_u = total − exits before
    u, an exclusive prefix over the risk table); the product becomes
    ``exp(Σ ln(1 − d/n))`` with each log term snapped to the 9-decimal
    guard grid and SUMMED AS DECIMAL(38,9) (the repo's grid-sum
    convention) — exact, order-independent addition, so the curve
    replays identically cross-engine and under any partitioning. When
    d_u = n_u (everyone remaining exits with an event) the survival
    drops to exactly 0 from that duration on — carried as a cumulative
    0/1 flag, never ln(0).

    Scale shape: one groupBy(duration) shuffle collapses the data to the
    risk table, then two chained :func:`.._ranks.bucketed_prefix_sums`
    passes (exit counts for n_risk, then term/zero-flag for the curve),
    which pick plain windows for a small risk table and the bucketed walk
    otherwise — so even a µs-granular duration column, where the risk
    table is data-sized, never serializes onto one partition.

    Returns ``(*group_cols, duration, n_risk, n_event, n_censored,
    survival_r)`` ordered by (*group_cols, duration).
    """
    from artigraph_spark.operators._ranks import bucketed_prefix_sums

    gcols = list(group_cols)
    dur, obs = F.col(duration_col), F.col(observed_col)
    risk = (
        df.filter(dur.isNotNull() & obs.isNotNull())
        .groupBy(*gcols, dur.alias("duration"))
        .agg(
            F.sum(F.when(obs == 1, 1).otherwise(0)).alias("n_event"),
            # an observed flag outside {0,1} silently counting as
            # censored would bias the curve — raise instead (the
            # cdc_apply unknown-op convention; evaluated per input row,
            # cheap next to the aggregate it feeds)
            F.sum(
                F.when(obs == 1, 0)
                .when(obs == 0, 1)
                .otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit("kaplan_meier: observed flag must be 0/1, got "),
                            obs.cast("string"),
                        )
                    )
                )
            ).alias("n_censored"),
        )
    )
    # pass 1: n_risk = total exits − exits at strictly smaller durations,
    # exits = events + censored. Summing the two counts separately keeps
    # a derived exits column off the pass's exchange. keep_bucket lets
    # pass 2 ride the same bucket ids when the walk is bucketed (see
    # bucketed_prefix_sums' chained-passes note).
    counts = ["n_event", "n_censored"]
    sums = [f"__{part}_{c}" for part in ("tot", "pre") for c in counts]
    tot_e, tot_c, pre_e, pre_c = (F.col(c) for c in sums)
    t = (
        bucketed_prefix_sums(risk, gcols, "duration", counts, keep_bucket="__kb")
        .withColumn("n_risk", tot_e + tot_c - (pre_e + pre_c))
        .drop(*sums)
    )
    # pass 2: the term depends on n_risk (itself a prefix), so the curve
    # needs a second prefix over the one-row-per-duration frame pass 1
    # already produced. Grid-snapped terms sum as exact DECIMAL(38,9).
    term = F.when(
        (F.col("n_event") > 0) & (F.col("n_event") < F.col("n_risk")),
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("n_event").cast("double") / F.col("n_risk").cast("double")
            ),
            9,
        ),
    ).otherwise(F.lit(0.0))
    seeded = t.withColumn("__term", term.cast("decimal(38,9)")).withColumn(
        "__zf", F.when(F.col("n_event") == F.col("n_risk"), 1).otherwise(0)
    )
    cum = bucketed_prefix_sums(
        seeded, gcols, "duration", ["__term", "__zf"], bucket_col="__kb"
    )
    # inclusive sum = exclusive prefix + own term; both narrowed to
    # precision 37 so the decimal add keeps scale 9 (Spark caps
    # (38,9)+(38,9) at 38 digits by dropping a scale digit)
    inc = F.col("__pre___term").cast("decimal(37,9)") + F.col("__term").cast(
        "decimal(37,9)"
    )
    return cum.select(
        *gcols,
        "duration",
        "n_risk",
        "n_event",
        "n_censored",
        F.when(F.col("__pre___zf") + F.col("__zf") > 0, F.lit(0.0))
        .otherwise(F.round(F.exp(inc.cast("double")), 9))
        .alias("survival_r"),
    ).orderBy(*gcols, "duration")


def restricted_mean_survival(
    curve: DataFrame,
    duration_col: str,
    survival_col: str,
    horizon: int,
    *,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Restricted mean survival time RMST(τ): the area under a
    Kaplan–Meier curve up to ``horizon`` τ — "average event-free time
    in the first τ units", the single-number effect size clinicians and
    churn analysts report next to the curve and the log-rank p (it
    stays meaningful when hazards cross and the hazard-ratio doesn't).

    ``curve`` is a :func:`kaplan_meier` output (one row per
    (*group_cols, duration) with the step survival value). RMST is the
    exact step integral ``Σ S(t_i)·(min(t_{i+1},τ) − min(t_i,τ))`` plus
    the leading ``1·min(t_1,τ)`` segment (survival is 1 before the
    first exit). Exactness: survival values live on the 9-decimal grid
    → DECIMAL(10,9), widths are exact int64 → DECIMAL(18,0), so every
    product is an exact DECIMAL(29,9) and the sum is order-independent
    (precision chosen so Spark never sheds scale digits).

    Scale shape: the next-duration lookup is a (group, rank)-keyed
    equi-join of bucketed per-group row_numbers — NOT a lead() window,
    which would serialize each group's whole curve on one partition
    (µs-granular durations make the curve data-sized; same hazard the
    r11 kaplan_meier rewrite removed). The curve input is lineage-cut
    (the chained-pass rule, docs/PLANS.md): it is itself a prefix
    pass's output, and the three consumers here would otherwise
    re-execute its tree per branch.

    Returns one row per group: ``(*group_cols, horizon, rmst_r)``.
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from artigraph_spark.operators._adaptive import cut_frame
    from artigraph_spark.operators._ranks import bucketed_group_row_numbers

    if horizon <= 0:
        raise ValueError(f"horizon must be positive, got {horizon}")
    # The 'widths are exact int64' claim above is a CONTRACT, not an
    # assumption: a fractional duration type (kaplan_meier accepts any
    # numeric) would have each width HALF_UP-rounded by the
    # DECIMAL(18,0) cast below — a quietly wrong RMST. Reject it here
    # (the r11 advice item); callers with fractional durations should
    # rescale to an integer grid (ms/µs) first, which is also what
    # keeps the KM risk table granularity-safe.
    dt = curve.schema[duration_col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            "restricted_mean_survival: duration column "
            f"{duration_col!r} must be integral (byte/short/int/long) so "
            f"segment widths are exact — got {dt.simpleString()}; rescale "
            "fractional durations to an integer grid (e.g. ms) first"
        )
    gcols = list(group_cols)
    # A negative duration would make the leading 1·min(t1,τ) segment
    # negative — reject at execution time (the cdc_apply unknown-op
    # convention; one comparison per curve row, summary-priced).
    dur_in = F.col(duration_col)
    checked = F.when(
        dur_in < 0,
        F.raise_error(
            F.concat(
                F.lit("restricted_mean_survival: negative duration "),
                dur_in.cast("string"),
            )
        ),
    ).otherwise(dur_in)
    curve = cut_frame(
        curve.select(*gcols, checked.alias("__t"), F.col(survival_col).alias("__s"))
    )
    # constant group for the ungrouped form — the spearman __one idiom
    keyed = curve if gcols else curve.withColumn("__one", F.lit(1))
    kg = gcols or ["__one"]
    rn = bucketed_group_row_numbers(keyed, kg, "__t", [], out_col="__rn")
    tau = F.lit(int(horizon)).cast("long")
    nxt = rn.select(
        *[F.col(c).alias(f"__ng{i}") for i, c in enumerate(kg)],
        (F.col("__rn") - 1).alias("__prev"),
        F.col("__t").alias("__tn"),
    )
    cond = F.col("__rn") == F.col("__prev")
    for i, c in enumerate(kg):
        cond = cond & rn[c].eqNullSafe(F.col(f"__ng{i}"))
    segs = rn.join(nxt, cond, "left").select(
        *kg,
        F.col("__s").alias("__sv"),
        (
            F.least(F.coalesce(F.col("__tn"), tau), tau)
            - F.least(F.col("__t"), tau)
        ).alias("__w"),
    )
    first = (
        keyed.groupBy(*kg)
        .agg(F.least(F.min("__t"), tau).alias("__w"))
        .withColumn("__sv", F.lit(1.0))
    )
    term = F.round(F.col("__sv"), 9).cast("decimal(10,9)") * F.col("__w").cast(
        "decimal(18,0)"
    )
    out = (
        segs.unionByName(first)
        .groupBy(*kg)
        .agg(F.round(F.sum(term).cast("double"), 9).alias("rmst_r"))
        .select(*kg, F.lit(int(horizon)).cast("long").alias("horizon"), "rmst_r")
    )
    return out if gcols else out.drop("__one")


def logrank_test(
    df: DataFrame,
    duration_col: str,
    observed_col: str,
    group_col: str,
) -> DataFrame:
    """Two-sample log-rank (Mantel–Cox) test: are two right-censored
    survival curves the SAME curve? The significance companion to
    :func:`kaplan_meier` ``group_cols`` — eyeballing two KM curves
    cannot say whether the gap is real, and a t-test on raw durations
    is wrong under censoring (it treats censored exits as events).
    ``group_col`` must be 0/1 (1 = the "treatment" curve); any other
    value raises, like a bad observed flag.

    At each distinct duration t (pooled across both groups) with
    ``d_t`` events out of ``n_t`` at risk (``n1_t`` in group 1):
    observed ``O1 = Σ d1_t``, expected ``E1 = Σ n1_t·d_t/n_t``,
    hypergeometric variance
    ``V = Σ d_t·n1_t·(n_t−n1_t)·(n_t−d_t) / (n_t²·(n_t−1))``, and
    ``Z = (O1 − E1)/√V`` is ~N(0,1) under H0; p is two-sided through
    the engine-identical Φ polynomial (:func:`..functions.phi_approx`).

    Exactness: every per-duration count is exact int64 off ONE
    groupBy(duration) risk table; the at-risk counts are ONE exact
    prefix pass (no chaining — unlike kaplan_meier, the terms need only
    the exit prefix), E/V terms are DECIMAL(38,0) integer products with
    a single double division each (the moments convention), snapped to
    the 9-decimal grid and summed as DECIMAL(38,9) (order-independent),
    and Z is one subtraction / sqrt division on already-rounded inputs —
    engine-identical end to end.

    Scale shape: one :func:`.._ranks.bucketed_prefix_sums` pass over the
    risk table, which never sorts a large risk table on one partition,
    whatever the duration granularity.

    Returns one row ``(n_treat, n_control, o1, e1_r, v_r, z_r, p_r)``
    — z_r/p_r NULL when V = 0 (no comparable event times).
    """
    from artigraph_spark.functions import phi_approx
    from artigraph_spark.operators._ranks import bucketed_prefix_sums

    dur, obs, grp = F.col(duration_col), F.col(observed_col), F.col(group_col)
    ok = dur.isNotNull() & obs.isNotNull() & grp.isNotNull()
    obs01 = (
        F.when(obs == 1, 1)
        .when(obs == 0, 0)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("logrank_test: observed flag must be 0/1, got "),
                    obs.cast("string"),
                )
            )
        )
    )
    grp01 = (
        F.when(grp == 1, 1)
        .when(grp == 0, 0)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("logrank_test: group must be 0/1, got "),
                    grp.cast("string"),
                )
            )
        )
    )
    risk = (
        df.filter(ok)
        .groupBy(dur.alias("duration"))
        .agg(
            F.sum(obs01).alias("__d"),
            F.sum(grp01).alias("__x1"),
            F.sum(F.when((grp == 1) & (obs == 1), 1).otherwise(0)).alias("__d1"),
            F.count(F.lit(1)).alias("__x"),
        )
    )
    ps = bucketed_prefix_sums(risk, [], "duration", ["__x1", "__x"])
    n1 = F.col("__tot___x1") - F.col("__pre___x1")
    n = F.col("__tot___x") - F.col("__pre___x")
    d = F.col("__d")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    e1_t = F.when(
        d > 0, F.round((dec(n1) * dec(d)).cast("double") / n.cast("double"), 9)
    ).otherwise(F.lit(0.0))
    v_t = F.when(
        (d > 0) & (n > 1),
        F.round(
            (dec(d) * dec(n1) * dec(n - n1) * dec(n - d)).cast("double")
            / (dec(n) * dec(n) * dec(n - 1)).cast("double"),
            9,
        ),
    ).otherwise(F.lit(0.0))
    agg = ps.select(
        "__d1",
        "__x1",
        "__x",
        e1_t.cast("decimal(38,9)").alias("__e"),
        v_t.cast("decimal(38,9)").alias("__v"),
    ).agg(
        # coalesce: an EMPTY input reads as 0 units / 0 events with NULL
        # statistics, not an all-NULL row
        F.coalesce(F.sum("__x1"), F.lit(0)).cast("long").alias("n_treat"),
        (F.coalesce(F.sum("__x"), F.lit(0)) - F.coalesce(F.sum("__x1"), F.lit(0)))
        .cast("long")
        .alias("n_control"),
        F.coalesce(F.sum("__d1"), F.lit(0)).cast("long").alias("o1"),
        F.round(F.coalesce(F.sum("__e"), F.lit(0)).cast("double"), 9).alias("e1_r"),
        F.round(F.coalesce(F.sum("__v"), F.lit(0)).cast("double"), 9).alias("v_r"),
    )
    z = F.when(
        F.col("v_r") > 0,
        F.round(
            (F.col("o1").cast("double") - F.col("e1_r")) / F.sqrt(F.col("v_r")),
            9,
        ),
    )
    out = agg.withColumn("z_r", z)
    return out.withColumn(
        "p_r",
        F.when(
            F.col("z_r").isNotNull(),
            F.round(
                F.lit(2.0) * (F.lit(1.0) - phi_approx(F.abs(F.col("z_r")))), 9
            ),
        ),
    )


def theil_sen_slopes(
    series: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil–Sen robust slope per group: the MEDIAN of all pairwise slopes
    ``(y_j − y_i)/(x_j − x_i)`` over a summary-sized series — up to a
    29.3% breakdown point against outliers, where the trend_slopes OLS
    fit is dragged by a single spiked day.

    INPUT CONTRACT: ``series`` must already be an aggregated series
    (e.g. daily counts — ≤ a few hundred points per group). The pair
    enumeration is an equi-join on the group key, O(k²) rows per group
    of length k — the right cost for summary series, the WRONG operator
    for raw rows (aggregate first; that reduction is where the 100 TB
    scan goes). Duplicate x within a group would divide by zero — such
    pairs are excluded (standard for tied timestamps).

    The median is the exact type-1/2 order statistic: slopes totally
    ordered by (slope, i, j), the lower and upper middle ranks averaged
    for even counts — engine-replayable, no approximate percentile.
    Each slope is one double division of exact deltas snapped to the
    9-decimal guard grid.

    Returns ``(group, n_points, n_pairs, slope_r)`` — slope_r NULL for
    groups with <2 distinct x.
    """
    from pyspark.sql import Window

    s = series.select(
        F.col(group_col).alias("__g"),
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).filter(
        F.col("__x").isNotNull()
        & F.col("__y").isNotNull()
        # NaN points would poison every pairwise slope they touch
        & ~F.isnan(F.col("__x"))
        & ~F.isnan(F.col("__y"))
    )
    a = s.select("__g", F.col("__x").alias("__xa"), F.col("__y").alias("__ya"))
    b = s.select("__g", F.col("__x").alias("__xb"), F.col("__y").alias("__yb"))
    pairs = (
        a.join(b, "__g")
        .filter(F.col("__xa") < F.col("__xb"))
        .select(
            "__g",
            "__xa",
            "__xb",
            F.round(
                (F.col("__yb") - F.col("__ya")) / (F.col("__xb") - F.col("__xa")), 9
            ).alias("__s"),
        )
    )
    wo = Window.partitionBy("__g").orderBy("__s", "__xa", "__xb")
    wg = Window.partitionBy("__g")
    ranked = pairs.select(
        "__g",
        "__s",
        F.row_number().over(wo).alias("__rn"),
        F.count(F.lit(1)).over(wg).alias("__np"),
    )
    lo = (F.col("__np") + 1) / 2
    med = ranked.filter(
        (F.col("__rn") == F.floor(lo)) | (F.col("__rn") == F.ceil(lo))
    ).groupBy("__g").agg(
        F.max("__np").alias("n_pairs"),
        F.round(F.avg("__s"), 9).alias("slope_r"),
    )
    pts = s.groupBy("__g").agg(F.count(F.lit(1)).alias("n_points"))
    return (
        pts.join(med, "__g", "left")
        .select(
            F.col("__g").alias(group_col),
            "n_points",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            "slope_r",
        )
    )


def markov_stationary(
    df,
    group_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str,
    *,
    iterations: int = 16,
    bits: int = 30,
    pbits: int = 20,
):
    """Long-run (stationary) state occupancy of the first-order Markov
    chain estimated by :func:`transition_matrix` — "where do users end
    up spending their time?", the summary a raw transition matrix only
    implies. Fixed-point power iteration: transition probabilities
    quantize to ``p_fx = floor(n_sd·2^pbits / n_s)`` — exact-replay
    bounds: per-pair counts < 2^33 (so n·2^pbits stays exact in double;
    the ·2^pbits is an exponent shift) and per-state totals < 2^31 (so
    the quotient's 2^-33 rounding error cannot cross the ≥2^-31 gap a
    non-integer p/q keeps from any integer — the pagerank argument);
    then ``π'_d = Σ_s floor(π_s·p_fx / 2^pbits)``
    whose products stay < 2^(bits+pbits) = 2^50 — exact in double, so
    every step replays bit-for-bit cross-engine. States that leak mass
    through floors are not renormalized (the pagerank convention;
    ranking/occupancy proportions are unaffected).

    Scale shape: the heavy work is the ONE per-group window sort and
    (src, dst) aggregate of transition_matrix; the quantized |states|²
    matrix is lineage-cut once (kilobytes) and the iterations run
    on |states|-row frames — π is consumed once per round, so the plan
    grows linearly and needs no per-round cuts. Above the reuse
    threshold the per-src totals attach via a broadcast join over the
    materialized counts (no hash(__src) re-shuffle of the matrix
    between the aggregate and the checkpoint — r15); below it they ride
    a window over the single lazy consumer.

    Returns ``(state, pi_fx)`` — fixed-point occupancy at scale 2^bits
    for every state the final round reached as a destination. A pure
    SINK state (inbound transitions, none outbound) holds exactly one
    round of inbound mass and re-leaks it next round — the pagerank
    dangling-node convention; model an absorbing state explicitly with
    a self-loop if retention is intended.
    """
    if iterations <= 0:
        raise ValueError(f"iterations must be positive, got {iterations}")
    if not 1 <= bits <= 30 or not 1 <= pbits <= 30:
        raise ValueError(f"bits/pbits must be in [1, 30], got {bits}/{pbits}")
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        df.filter(
            F.col(group_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(state_col).isNotNull()
        )
        .select(
            F.col(state_col).alias("__src"),
            F.lead(state_col).over(w).alias("__dst"),
        )
        .filter(F.col("__dst").isNotNull())
    )
    from artigraph_spark.operators._adaptive import reuse_frame_cut

    # r15: the per-src totals used to ride a Window.partitionBy(__src)
    # sum — one more hash(__src) exchange of the |states|² matrix between
    # the (src, dst) aggregate and the checkpoint. Above the reuse
    # threshold the counts frame is materialized once, the totals become
    # a tiny aggregate over the cached rows, and the probabilities
    # attach via a broadcast join — the checkpointed matrix then carries
    # the aggregate's partitioning with NO further shuffle (guide §2.4).
    # Below the threshold the window path stays: it re-executes nothing
    # (single consumer) and one |states|²-row exchange is cheaper than a
    # second execution of the lazy pairs subtree for the totals branch.
    counts, cut = reuse_frame_cut(
        pairs.groupBy("__src", "__dst").agg(F.count(F.lit(1)).alias("__n"))
    )
    if cut:
        tots = counts.groupBy("__src").agg(F.sum("__n").alias("__tn"))
        quant = counts.join(F.broadcast(tots), "__src").select(
            "__src",
            "__dst",
            F.floor(
                F.col("__n").cast("double")
                * F.lit(float(1 << pbits))
                / F.col("__tn").cast("double")
            )
            .cast("long")
            .alias("__p"),
        )
    else:
        tot = Window.partitionBy("__src")
        quant = counts.select(
            "__src",
            "__dst",
            F.floor(
                F.col("__n").cast("double")
                * F.lit(float(1 << pbits))
                / F.sum("__n").over(tot).cast("double")
            )
            .cast("long")
            .alias("__p"),
        )
    p = _ckpt(quant)
    states = p.select(F.col("__src").alias("state")).distinct()
    n_states = states.agg(F.count(F.lit(1)).alias("__ns"))
    pi = states.crossJoin(F.broadcast(n_states)).select(
        "state",
        F.floor(F.lit(float(1 << bits)) / F.col("__ns")).cast("long").alias("pi"),
    )
    for _ in range(iterations):
        # π is |states| rows by construction — broadcast it explicitly
        # (guide §3.1: pick the strategy deliberately) so no round ever
        # shuffles the checkpointed matrix by __src; each round is one
        # broadcast + one map-side-combined groupBy over |states|² rows.
        pi = (
            p.join(F.broadcast(pi.withColumnRenamed("state", "__src")), "__src")
            .select(
                F.col("__dst").alias("state"),
                F.floor(
                    (F.col("pi") * F.col("__p")).cast("double")
                    / F.lit(float(1 << pbits))
                )
                .cast("long")
                .alias("__share"),
            )
            .groupBy("state")
            .agg(F.sum("__share").alias("pi"))
        )
    return pi.select("state", F.col("pi").alias("pi_fx"))


def ccf_lags(
    df,
    ts_col: str,
    type_col: str,
    type_a: str,
    type_b: str,
    *,
    bucket_seconds: int = 3600,
    max_lag: int = 12,
):
    """Sample CROSS-correlation between two event types' bucketed count
    series at lags −max_lag..+max_lag — the lead/lag detector behind
    "do clicks drive purchases, and with what delay?": a peak at lag +k
    means series A leads series B by k buckets (corr of a(t) with
    b(t+k)); negative lags test the reverse direction. The two-series
    sibling of :func:`acf_lags`.

    Series alignment: the common grid is every bucket where EITHER type
    has events (full outer join, absent side = 0) — compose with
    gap-fill upstream if a strictly regular grid is required. With N
    grid buckets and totals T_a/T_b, deviations ``N·y − T`` are exact
    int64 per series; numerators are DECIMAL(38,0) sums of deviation
    products over the overlap, the denominator is the full-series
    ``sqrt(Σd_a²·Σd_b²)`` (the standard CCF normalization), and
    ``ccf_r`` is one double division rounded to 9 — engine-identical.

    Scale shape: one data-sized shuffle to per-(type,bucket) counts;
    every window/lag runs over the ≤N-row summary series (the acf
    convention). Returns ``(lag, n_pairs, ccf_r)``, one row per lag.
    """
    if bucket_seconds <= 0:
        raise ValueError(f"bucket_seconds must be positive, got {bucket_seconds}")
    if max_lag <= 0:
        raise ValueError(f"max_lag must be positive, got {max_lag}")
    if type_a == type_b:
        raise ValueError("ccf_lags needs two distinct types; use acf_lags for one")
    from pyspark.sql import Window

    b = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(bucket_seconds)).cast("long")
        * F.lit(bucket_seconds)
    )

    def series(t):
        return (
            df.filter(F.col(ts_col).isNotNull() & (F.col(type_col) == t))
            .groupBy(b.alias("__b"))
            .agg(F.count(F.lit(1)).alias("__y"))
        )

    sa = series(type_a).withColumnRenamed("__y", "__ya")
    sb = series(type_b).withColumnRenamed("__y", "__yb")
    grid = (
        sa.join(sb, "__b", "full_outer")
        .select(
            "__b",
            F.coalesce(F.col("__ya"), F.lit(0)).alias("__ya"),
            F.coalesce(F.col("__yb"), F.lit(0)).alias("__yb"),
        )
    )
    w_all = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_ord = Window.orderBy("__b")
    n_all = F.count(F.lit(1)).over(w_all)
    devs = grid.select(
        "__b",
        (n_all * F.col("__ya") - F.sum("__ya").over(w_all)).alias("__da"),
        (n_all * F.col("__yb") - F.sum("__yb").over(w_all)).alias("__db"),
    )
    lags = list(range(-max_lag, max_lag + 1))
    shifted = devs.select(
        "__da",
        "__db",
        *[
            (
                F.lead("__db", k).over(w_ord) if k >= 0 else F.lag("__db", -k).over(w_ord)
            ).alias(f"__s{k + max_lag}")
            for k in lags
        ],
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = shifted.agg(
        F.sum(dec(F.col("__da")) * dec(F.col("__da"))).alias("__vda"),
        F.sum(dec(F.col("__db")) * dec(F.col("__db"))).alias("__vdb"),
        *[
            F.sum(dec(F.col("__da")) * dec(F.col(f"__s{k + max_lag}"))).alias(
                f"__num{k + max_lag}"
            )
            for k in lags
        ],
        *[
            F.count(F.col(f"__s{k + max_lag}")).alias(f"__np{k + max_lag}")
            for k in lags
        ],
    )
    den = F.sqrt(F.col("__vda").cast("double") * F.col("__vdb").cast("double"))
    out = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("lag"),
                F.col(f"__np{k + max_lag}").alias("n_pairs"),
                F.when(
                    den > 0,
                    F.round(F.col(f"__num{k + max_lag}").cast("double") / den, 9),
                ).alias("ccf_r"),
            )
            for k in lags
        ]
    )
    return agg.select(F.explode(out).alias("__r")).select(
        "__r.lag", "__r.n_pairs", "__r.ccf_r"
    )


def time_weighted_avg(
    e,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    bits: int = 20,
):
    """Time-weighted average value per user over an irregular event
    series — each reading holds until the next one (left-continuous
    step), so ``twap = Σ vᵢ·(tᵢ₊₁ − tᵢ) / (t_last − t_first)``: the
    telemetry/pricing standard when sampling is uneven and a plain mean
    over-weights bursts.

    Exactness: durations are exact µs int64 (lead over a per-user
    window totally ordered by (ts, id)); values ride the 2^bits
    fixed-point grid; each value×duration product is DECIMAL(38,0); the
    single double division at the end is rounded to 9. Rows with NULL
    ts are excluded; rows with NULL/NaN value contribute their DURATION
    to the denominator but no mass (treated as 0 — document upstream
    imputation if another convention is needed). Users with fewer than
    two timestamped events have no duration and are omitted; users whose
    events all share one microsecond (span 0) get NULL ``twap_r``.

    Scale shape: one per-user window pass (user-keyed exchange —
    millions of partitions, fully parallel; never a global sort) and a
    map-side-combined per-user aggregate.

    Returns ``(user, n_events, span_us, twap_r)``.
    """
    v = F.col(value_col)
    base = e.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__t"),
        F.col(id_col).alias("__id"),
        F.when(v.isNotNull() & ~F.isnan(v.cast("double")), v).alias("__v"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__u").orderBy("__t", "__id")
    stepped = base.select(
        "__u",
        "__t",
        "__v",
        (F.lead("__t", 1).over(w) - F.col("__t")).alias("__dur"),
    ).filter(F.col("__dur").isNotNull())
    vfx = F.floor(F.col("__v").cast("double") * F.lit(float(1 << bits))).cast("long")
    mass = (
        F.coalesce(vfx, F.lit(0).cast("long")).cast("decimal(38,0)")
        * F.col("__dur").cast("decimal(38,0)")
    )
    return (
        stepped.groupBy(F.col("__u").alias(user_col))
        .agg(
            (F.count(F.lit(1)) + 1).alias("n_events"),
            F.sum("__dur").alias("span_us"),
            # span can be 0 when every timestamped event of a user shares
            # one microsecond: guard the division so both engines agree
            # on NULL (Spark's /0 -> NULL; DuckDB doubles may give inf).
            F.when(
                F.sum("__dur") > 0,
                F.round(
                    F.sum(mass).cast("double")
                    / F.lit(float(1 << bits))
                    / F.sum("__dur").cast("double"),
                    9,
                ),
            ).alias("twap_r"),
        )
    )


def mann_kendall(
    df,
    ts_col: str,
    *,
    bucket_seconds: int = 3600,
):
    """Mann–Kendall trend test over the bucketed event-count series —
    the nonparametric "is there a monotone trend?" significance test
    that completes the trend family (:func:`theil_sen_slopes` estimates
    the slope; MK says whether the trend is real): S = Σ over bucket
    pairs (i < j in time) of sign(y_j − y_i), the tie-corrected normal
    approximation ``var(S) = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5))/18``,
    the continuity-corrected z, and the two-sided p-value through the
    engine-identical Φ polynomial (:func:`functions.phi_approx`).

    Exactness: S and both variance terms are pure int64 arithmetic over
    the summary series (counts are ints; sign() of an int difference is
    exact); the single /18.0, the sqrt, and Φ are the only double steps,
    each rounded to the 9-decimal grid.

    Scale shape: one data-sized shuffle to per-bucket counts, then the
    pair sum runs as a broadcast theta-join of the summary series with
    itself — N(N−1)/2 pairs over N BUCKETS (hours/days), the same
    summary-quadratic budget as the acf family, never over raw rows.

    Returns one row ``(n_buckets, s_stat, var_s_r, z_r, p_r)``.
    """
    if bucket_seconds <= 0:
        raise ValueError(f"bucket_seconds must be positive, got {bucket_seconds}")
    from artigraph_spark.functions import phi_approx

    b = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(bucket_seconds)).cast("long")
        * F.lit(bucket_seconds)
    )
    series = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__y"))
    )
    left = series.select(F.col("__b").alias("__b1"), F.col("__y").alias("__y1"))
    right = series.select(F.col("__b").alias("__b2"), F.col("__y").alias("__y2"))
    pairs = left.join(F.broadcast(right), F.col("__b1") < F.col("__b2"))
    s_frame = pairs.agg(
        F.coalesce(
            F.sum(F.signum((F.col("__y2") - F.col("__y1")).cast("double")).cast("long")),
            F.lit(0).cast("long"),
        ).alias("s_stat")
    )
    ties = (
        series.groupBy("__y")
        .agg(F.count(F.lit(1)).alias("__t"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("__t")
                    * (F.col("__t") - 1)
                    * (2 * F.col("__t") + 5)
                ),
                F.lit(0).cast("long"),
            ).alias("__tie"),
            F.coalesce(F.sum("__t"), F.lit(0).cast("long")).alias("n_buckets"),
        )
    )
    j = s_frame.crossJoin(F.broadcast(ties))
    nn = F.col("n_buckets")
    var_s = (
        (nn * (nn - 1) * (2 * nn + 5) - F.col("__tie")).cast("double")
        / F.lit(18.0)
    )
    s = F.col("s_stat").cast("double")
    z = (
        F.when(F.col("s_stat") > 0, (s - F.lit(1.0)) / F.sqrt(var_s))
        .when(F.col("s_stat") < 0, (s + F.lit(1.0)) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    zr = F.when(var_s > 0, F.round(z, 9)).otherwise(F.lit(0.0))
    return j.select(
        "n_buckets",
        "s_stat",
        F.round(var_s, 9).alias("var_s_r"),
        zr.alias("z_r"),
        F.round(
            F.lit(2.0) * (F.lit(1.0) - phi_approx(F.abs(zr))), 9
        ).alias("p_r"),
    )
