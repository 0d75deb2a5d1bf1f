"""Declarative data-quality constraint checking (the deequ-style surface
a training-data pipeline gates ingests with).

A constraint suite compiles to ONE aggregate pass over the table for all
row-local checks (null rates, ranges, accepted values, custom
predicates) — every check is a conditional-count expression inside the
same `agg()`, so a 100-check suite still scans the data once, map-side
partial all the way. Set-level checks (uniqueness, referential
integrity) each need their own keyed shuffle by nature; they run as
separate summary-sized aggregates and union into the same report.

The report is a plain DataFrame ``(check, metric, violations, passed)``
— deterministic, engine-replayable (counts only), and writable as an
artifact so quality history rides the same storage/fingerprint
machinery as data (see ``statistics.py`` for the framework-level
threshold gate that can abort a build on it).
"""

from __future__ import annotations

import dataclasses
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from artigraph_spark.operators._adaptive import cut_frame, reuse_frame


@dataclasses.dataclass(frozen=True)
class Check:
    """One named constraint: ``predicate`` marks VIOLATING rows (row-local
    checks), or ``kind`` selects a set-level check handled specially."""

    name: str
    kind: str  # "row" | "unique" | "referential"
    predicate: Column | None = None  # row: true == violation
    cols: tuple[str, ...] = ()
    ref: DataFrame | None = None
    ref_col: str | None = None


def not_null(col: str) -> Check:
    return Check(name=f"not_null({col})", kind="row", predicate=F.col(col).isNull())


def in_range(col: str, lo, hi) -> Check:
    c = F.col(col)
    return Check(
        name=f"in_range({col},{lo},{hi})",
        kind="row",
        predicate=c.isNull() | (c < lo) | (c > hi),
    )


def accepted_values(col: str, values: Sequence) -> Check:
    return Check(
        name=f"accepted_values({col})",
        kind="row",
        predicate=~F.col(col).isin(list(values)) | F.col(col).isNull(),
    )


def satisfies(name: str, violation: Column) -> Check:
    """Custom row-local constraint; ``violation`` is true on bad rows."""
    return Check(name=name, kind="row", predicate=violation)


def unique(*cols: str) -> Check:
    return Check(name=f"unique({','.join(cols)})", kind="unique", cols=tuple(cols))


def referential(col: str, ref: DataFrame, ref_col: str) -> Check:
    """Every non-null value of ``col`` must exist in ``ref[ref_col]``."""
    return Check(
        name=f"referential({col}->{ref_col})",
        kind="referential",
        cols=(col,),
        ref=ref,
        ref_col=ref_col,
    )


def check_constraints(df: DataFrame, checks: Sequence[Check]) -> DataFrame:
    """Run a constraint suite; returns ``(check, metric, violations,
    passed)`` with one row per check, ordered as given.

    metric: total rows for row checks, duplicate surplus rows for
    uniqueness (rows beyond the first per key), dangling distinct values
    for referential. ``passed`` is simply ``violations == 0`` — thresholds
    beyond zero-tolerance belong to the caller (or the framework's
    statistics gate).
    """
    if not checks:
        raise ValueError("empty constraint suite")
    names = [c.name for c in checks]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate check names in suite: {names}")
    row_checks = [c for c in checks if c.kind == "row"]
    reports: list[DataFrame] = []
    if row_checks:
        aggs = [F.count(F.lit(1)).alias("__n")] + [
            # coalesce: SUM over zero rows is NULL, which would report
            # violations=NULL / passed=NULL for a (vacuously valid)
            # empty table instead of 0 / true
            F.coalesce(
                F.sum(F.when(c.predicate, 1).otherwise(0)), F.lit(0)
            ).alias(f"__v{i}")
            for i, c in enumerate(row_checks)
        ]
        one = df.agg(*aggs)
        # explode the single aggregate row into one report row per check —
        # a per-check union of selects over `one` would re-scan the table
        # once per branch (no cross-branch CSE); this keeps ONE FileScan
        # for the whole row-local suite (plan-locked in tests).
        rows = F.array(
            *[
                F.struct(
                    F.lit(c.name).alias("check"),
                    F.col("__n").cast("long").alias("metric"),
                    F.col(f"__v{i}").cast("long").alias("violations"),
                )
                for i, c in enumerate(row_checks)
            ]
        )
        reports.append(
            one.select(F.explode(rows).alias("__r")).select(
                "__r.check", "__r.metric", "__r.violations"
            )
        )
    for c in checks:
        if c.kind == "unique":
            surplus = (
                df.groupBy(*[F.col(x) for x in c.cols])
                .agg(F.count(F.lit(1)).alias("__k"))
                .agg(
                    F.count(F.lit(1)).alias("__groups"),
                    F.coalesce(F.sum(F.col("__k") - 1), F.lit(0)).alias("__dupes"),
                )
            )
            reports.append(
                surplus.select(
                    F.lit(c.name).alias("check"),
                    F.col("__groups").cast("long").alias("metric"),
                    F.col("__dupes").cast("long").alias("violations"),
                )
            )
        elif c.kind == "referential":
            col = c.cols[0]
            # one pass: distinct fact values left-join the reference, a
            # single agg yields both the metric (distinct values) and the
            # violations (unmatched) — the oracle's refi CTE shape
            marked = (
                df.select(F.col(col).alias("__v"))
                .filter(F.col("__v").isNotNull())
                .distinct()
                .join(
                    c.ref.select(F.col(c.ref_col).alias("__v"))
                    .distinct()
                    .withColumn("__hit", F.lit(1)),
                    "__v",
                    "left",
                )
            )
            reports.append(
                marked.agg(
                    F.count(F.lit(1)).alias("__t"),
                    F.coalesce(
                        F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)),
                        F.lit(0),
                    ).alias("__d"),
                ).select(
                    F.lit(c.name).alias("check"),
                    F.col("__t").cast("long").alias("metric"),
                    F.col("__d").cast("long").alias("violations"),
                )
            )
        elif c.kind != "row":
            raise ValueError(f"unknown check kind {c.kind!r} in {c.name}")
    # preserve suite order in the output (row checks were emitted first)
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    order = {c.name: i for i, c in enumerate(checks)}
    emitted = [c for c in checks if c.kind == "row"] + [
        c for c in checks if c.kind != "row"
    ]
    mapping = F.create_map(
        *[x for c in emitted for x in (F.lit(c.name), F.lit(order[c.name]))]
    )
    return (
        out.withColumn("__ord", mapping[F.col("check")])
        .orderBy("__ord")
        .drop("__ord")
        .withColumn("passed", F.col("violations") == 0)
    )


def profile_table(
    df: DataFrame,
    cols: Sequence[str],
    *,
    m: int = 256,
    seed: int = 11,
) -> DataFrame:
    """One-pass-per-stage column profile: ``(column, n, nulls,
    distinct_est, min_s, max_s)`` for each requested column — the
    ingest-time "what does this table look like" report.

    Two data-sized stages regardless of column count: (1) a single
    aggregate computes every column's count/nulls/min/max (values
    stringified AFTER the typed min/max, so numeric ordering is real);
    (2) the distinct estimates come from per-column HLL sketches built in
    one shuffle — each row explodes into (column, digest-key) pairs
    keyed by the SHA-prefix content key, so the registers are
    engine-replayable like every other sketch. Stringified values must
    render identically cross-engine for the oracle to replay the
    estimates — ints/strings/dates do; profile raw doubles through a
    fixed-point encode first (FIXTURES.md).
    """
    from artigraph_spark.operators.dedup import content_key
    from artigraph_spark.operators.sketches import (
        grouped_hll_estimate,
        grouped_hll_sketch,
    )

    if not cols:
        raise ValueError("no columns to profile")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__z{i}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__lo{i}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__hi{i}"))
    one = df.agg(*aggs)
    stat_rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").cast("long").alias("n"),
                F.col(f"__z{i}").cast("long").alias("nulls"),
                F.col(f"__lo{i}").alias("min_s"),
                F.col(f"__hi{i}").alias("max_s"),
            )
            for i, c in enumerate(cols)
        ]
    )
    stats = one.select(F.explode(stat_rows).alias("__r")).select("__r.*")
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                content_key(F.col(c)).alias("k"),
            )
            for c in cols
        ]
    )
    keyed = (
        df.select(F.explode(pairs).alias("__p"))
        .select("__p.column", "__p.k")
        .filter(F.col("k").isNotNull())
    )
    sk = grouped_hll_sketch(keyed, "column", "k", m=m, seed=seed)
    # linear-counting correction: profiled columns are routinely
    # low-cardinality (status codes), where the raw estimator is useless
    est = grouped_hll_estimate(
        sk, "column", m=m, small_range_correction=True
    ).select("column", F.round("estimate", 6).alias("distinct_est"))
    return stats.join(est, "column", "left").select(
        "column", "n", "nulls", "distinct_est", "min_s", "max_s"
    )


def moments(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group distribution moments — ``(group, n, mean_r, var_r,
    skew_r, kurt_r)`` (population variance, skewness, EXCESS kurtosis)
    — the shape diagnostics behind drift detection and outlier policy.

    All four power sums Σx..Σx⁴ are fixed-point integer sums (x at
    2^-20, the higher powers at 2^-10 backed by DECIMAL(38,0) partials,
    exact and associative at any partition count); the moment formulas
    then run an identical double-arithmetic sequence on both engines
    and round to 6 decimals, so an oracle replays every value. Groups
    with zero variance emit NULL skew/kurtosis. ONE data-sized shuffle.
    """
    from artigraph_spark.functions import dsum_wide

    c = F.col(value_col)
    # NaN rows are excluded like NULLs (fxp(NaN) counts as 0 in non-ANSI
    # Spark and aborts under ANSI); all four sums ride DECIMAL(38,0)
    # partials — Σx·2^20 alone overflows int64 once a group's raw value
    # total passes ~8.8e12.
    agg = df.filter(c.isNotNull() & ~F.isnan(c.cast("double"))).groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        dsum_wide(c, 20).alias("__s1"),
        dsum_wide(c * c, 10).alias("__s2"),
        dsum_wide(c * c * c, 10).alias("__s3"),
        dsum_wide(c * c * c * c, 10).alias("__s4"),
    )
    n = F.col("n").cast("double")
    m1 = F.col("__s1") / n
    m2 = F.col("__s2") / n
    m3 = F.col("__s3") / n
    m4 = F.col("__s4") / n
    var = m2 - m1 * m1
    skew = (m3 - F.lit(3.0) * m1 * m2 + F.lit(2.0) * m1 * m1 * m1) / F.pow(
        var, F.lit(1.5)
    )
    kurt = (
        m4
        - F.lit(4.0) * m1 * m3
        + F.lit(6.0) * m1 * m1 * m2
        - F.lit(3.0) * m1 * m1 * m1 * m1
    ) / (var * var) - F.lit(3.0)
    return agg.select(
        group_col,
        "n",
        F.round(m1, 6).alias("mean_r"),
        F.round(var, 6).alias("var_r"),
        F.when(var > 0, F.round(skew, 6)).alias("skew_r"),
        F.when(var > 0, F.round(kurt, 6)).alias("kurt_r"),
    )


def impute_group_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    missing: Column | None = None,
) -> DataFrame:
    """Missing-value imputation with the per-group fixed-point mean:
    rows whose value is missing (NULL/NaN by default; pass ``missing``
    for a custom predicate) get their group's deterministic mean of the
    present values — the standard numeric-feature repair before
    training, reproducible across engines because the mean is an exact
    int64 sum divided once (FIXTURES.md).

    Adds ``value_imputed_r`` (round 9) and ``was_missing``; groups with
    NO present value keep NULL. Two summary-joined aggregates, one
    data-sized shuffle each.
    """
    from artigraph_spark.functions import fxp

    c = F.col(value_col)
    if missing is None:
        missing = c.isNull() | F.isnan(c)
    means = (
        df.filter(~missing)
        .groupBy(group_col)
        .agg(
            (
                F.sum(fxp(c, 20)).cast("double")
                / (F.count(F.lit(1)) * F.lit(float(1 << 20)))
            ).alias("__gm")
        )
    )
    return (
        df.withColumn("was_missing", missing)
        .join(means, group_col, "left")
        .withColumn(
            "value_imputed_r",
            F.round(
                F.when(F.col("was_missing"), F.col("__gm")).otherwise(c), 9
            ),
        )
        .drop("__gm")
    )


def _cumulative_hist(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group value histogram with running counts: ``(group, __v, __f,
    __cum, __n)`` — the sort-free substrate for exact rank statistics
    (winsorize thresholds, medians, equi-depth bins). One (group, value)
    count shuffle; the running sum is one ``bucketed_prefix_sums`` call,
    which takes a per-group window over a summary-sized histogram and the
    range-bucketed two-phase prefix otherwise, so a near-unique value
    column — where the histogram IS the data — never parks a group's
    whole distinct-value walk on one partition (the r10 fix)."""
    from artigraph_spark.operators._ranks import bucketed_prefix_sums

    c = F.col(value_col)
    hist = (
        df.filter(c.isNotNull())
        .groupBy(group_col, c.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__f"))
    )
    ps = bucketed_prefix_sums(hist, [group_col], "__v", ["__f"])
    return ps.select(
        group_col,
        "__v",
        "__f",
        (F.col("__pre___f") + F.col("__f")).alias("__cum"),
        F.col("__tot___f").alias("__n"),
    )


def _rank_quantile(cum: DataFrame, group_col: str, q: float, name: str) -> DataFrame:
    """Type-1 (no-interpolation) quantile from a cumulative histogram: the
    value at rank ``ceil(q·n)`` — always an actual data value, exact
    integer-rank arithmetic, zero float-interpolation drift."""
    return (
        cum.filter(F.col("__cum") >= F.ceil(F.lit(q) * F.col("__n")))
        .groupBy(group_col)
        .agg(F.min("__v").alias(name))
    )


def robust_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    k: float = 3.0,
) -> DataFrame:
    """Median/MAD robust outlier flags per group — the heavy-tail-safe
    sibling of z-score anomaly detection (mean and stddev are themselves
    dragged by the outliers they're meant to find; median and MAD have a
    50% breakdown point).

    Both the location (median) and the scale (MAD = median of absolute
    deviations) are type-1 rank quantiles over cumulative histograms —
    exact, interpolation-free, engine-replayable. A row is an outlier
    when ``|v - med| > k · 1.4826 · mad`` (1.4826 makes MAD consistent
    with σ under normality, so ``k`` reads in sigma units). Adds
    ``abs_dev``, ``is_outlier``; NULL values get NULL flags. Degenerate
    groups (mad = 0) flag any deviation from the median.

    Scale: two summary-sized histogram shuffles (values, then
    deviations) + two broadcast joins of per-group statistics — no
    global row sort. See ``_cumulative_hist`` for the distinct-value
    cardinality caveat. Both per-group statistic frames take a lazy
    lineage cut (r11, the kaplan_meier chained-pass lesson; made by
    ``_adaptive.cut_frame``, reliable under a context checkpoint dir):
    the deviation histogram's 4-branch fan-out would otherwise multiply
    the median's whole tree statically, and column pruning can
    specialize the duplicated exchanges enough to defeat runtime reuse
    — measured 2× end-to-end (3.5 s → 1.8 s at sf0.1) for two
    groups-sized checkpoints.
    """
    c = F.col(value_col)
    cum = _cumulative_hist(df, group_col, value_col)
    med = cut_frame(_rank_quantile(cum, group_col, 0.5, "__med"))
    devs = df.join(F.broadcast(med), group_col, "left").withColumn(
        "abs_dev", F.abs(c - F.col("__med"))
    )
    cum = _cumulative_hist(devs, group_col, "abs_dev")
    mad = cut_frame(_rank_quantile(cum, group_col, 0.5, "__mad"))
    return (
        devs.join(F.broadcast(mad), group_col, "left")
        .withColumn(
            "is_outlier",
            F.when(
                c.isNotNull(),
                F.col("abs_dev") > F.lit(k) * F.lit(1.4826) * F.col("__mad"),
            ),
        )
        .drop("__med", "__mad")
    )


def equi_depth_bins(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Equi-depth (quantile) binning per group: every non-NULL value gets a
    bin in ``1..n_bins`` such that bins carry ~equal row mass and EQUAL
    VALUES ALWAYS SHARE A BIN (value-deterministic — no row-order
    dependence, unlike NTILE, which splits ties by arbitrary row
    position). Bin of value v is ``ceil(n_bins · cum(v) / n)`` over the
    per-group cumulative histogram — exact integer arithmetic throughout
    (no float ranks). Adds ``bin`` (NULL for NULL values).

    The feature-discretization shape: quantile-bucket a continuous
    column before crossing/coding it for training.

    Scale: one (group, value) histogram shuffle + a window over the
    summary-sized histogram + an equi-join of rows back to their
    value's bin; heavy-tie values make bins uneven by design (a value
    never straddles bins). See ``_cumulative_hist`` for the
    distinct-value cardinality caveat.
    """
    if n_bins < 1:
        raise ValueError(f"need n_bins >= 1, got {n_bins}")
    cum = _cumulative_hist(df, group_col, value_col)
    # ceil(k·cum/n) via exact integer div: (k·cum + n - 1) div n. cum ≥ 1
    # keeps it ≥ 1; cum = n lands exactly on n_bins — no clamping needed.
    binned = cum.select(
        group_col,
        F.col("__v"),
        F.expr(f"({n_bins}L * __cum + __n - 1L) div __n").alias("bin"),
    )
    # Plain equi-join back to the rows: the bin map is histogram-sized
    # (distinct values per group) — small enough for AQE to broadcast when
    # it truly is small, too big to FORCE broadcast for near-unique keys.
    return df.join(
        binned.withColumnRenamed("__v", value_col),
        [group_col, value_col],
        "left",
    )


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """Per-group winsorization (outlier clipping) at rank-based
    quantiles: values clip to the group's type-1 (no-interpolation)
    ``lo_q``/``hi_q`` percentiles — the value at rank ``ceil(q·n)`` —
    so every threshold is an actual data value and the whole operation
    is exact integer-rank arithmetic, engine-replayable with zero
    float-interpolation drift.

    Thresholds come from the per-group value histogram via the same
    sort-free cumulative count-below walk as ``key_skew_audit`` —
    summary-sized after one (group, value) count shuffle — then clip is
    a per-row ``least/greatest``. Adds ``value_clipped``. NULL values
    pass through unclipped.
    """
    if not 0.0 <= lo_q <= hi_q <= 1.0:
        raise ValueError(f"need 0 <= lo_q <= hi_q <= 1, got {lo_q}/{hi_q}")
    # r15: the cumulative histogram now has exactly ONE consumer (the
    # fused bounds aggregation below), so the r14 operator-level
    # reuse_frame cut is gone — it would materialize a frame nothing
    # re-reads. The data-sized fan-out inside the prefix machinery is
    # still protected by bucketed_prefix_sums' internal cut.
    cum = _cumulative_hist(df, group_col, value_col)
    c = F.col(value_col)
    # r15: BOTH thresholds from ONE conditional aggregation over the
    # cumulative histogram instead of two filter+groupBy branches and a
    # per-group join. min(when(cond, v)) over all rows equals min(v)
    # over the filtered rows, and every group always matches both
    # conditions (the last histogram row has __cum = __n >= ceil(q·n)
    # for q <= 1), so the row set — including group membership — is
    # identical; the histogram subtree executes once instead of twice
    # below the reuse threshold (guide §2.4).
    bounds = cum.groupBy(group_col).agg(
        F.min(
            F.when(
                F.col("__cum") >= F.ceil(F.lit(lo_q) * F.col("__n")), F.col("__v")
            )
        ).alias("__lo"),
        F.min(
            F.when(
                F.col("__cum") >= F.ceil(F.lit(hi_q) * F.col("__n")), F.col("__v")
            )
        ).alias("__hi"),
    )
    return (
        df.join(F.broadcast(bounds), group_col, "left")
        .withColumn(
            "value_clipped",
            F.when(
                c.isNotNull(),
                F.least(F.greatest(c, F.col("__lo")), F.col("__hi")),
            ),
        )
        .drop("__lo", "__hi")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    compare_cols: Sequence[str],
) -> DataFrame:
    """Change-data-capture diff between two table snapshots, summarised:
    full-outer join on the key, each row classified
    ``added`` (key only in new) / ``removed`` (only in old) /
    ``changed`` (both, any compared column differs — NULL-safe) /
    ``unchanged``, then ONE summary row per status:
    ``(status, n, key_checksum)`` with the checksum an order-independent
    int64 sum over per-key folds — integral keys fold directly
    (mod 2^31−1); any other key type folds through the 60-bit
    SHA-prefix ``content_key`` so string/UUID surrogate keys work and
    stay engine-replayable — letting two diffs be compared without
    materialising row sets.

    One co-partitioned shuffle pair (the outer join); the output is
    four rows. The per-row classified frame is the natural intermediate
    if a caller wants the rows themselves — this summary keeps the
    operator's contract engine-replayable at any scale.
    """
    if not compare_cols:
        raise ValueError("compare_cols must be non-empty")
    o = old.select(
        F.col(key_col).alias("__k"),
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
    ).withColumn("__in_o", F.lit(1))
    n = new.select(
        F.col(key_col).alias("__k"),
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
    ).withColumn("__in_n", F.lit(1))
    joined = o.join(n, "__k", "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    status = (
        F.when(F.col("__in_o").isNull(), F.lit("added"))
        .when(F.col("__in_n").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    from pyspark.sql import types as T

    key_dt = old.schema[key_col].dataType
    if isinstance(key_dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        fold = F.pmod(F.col("__k").cast("long"), F.lit((1 << 31) - 1))
    else:
        # non-integral (string/UUID/date) keys: deterministic cross-engine
        # 60-bit SHA-prefix fold — an ANSI cast-to-long would throw here
        from artigraph_spark.operators.dedup import content_key

        fold = F.pmod(content_key(F.col("__k")), F.lit((1 << 31) - 1))
    return (
        joined.select(status.alias("status"), F.col("__k"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # DECIMAL(38,0) partials + a final mod keep the checksum an
            # exact, bounded int64 at ANY row count — a plain long sum of
            # per-key folds overflows past ~4.3e9 rows per status.
            F.pmod(
                F.sum(fold.cast("decimal(38,0)")), F.lit((1 << 31) - 1)
            ).cast("long").alias("key_checksum"),
        )
    )


def cdc_apply(
    base: DataFrame,
    changelog: DataFrame,
    key_col: str,
    *,
    order_cols: Sequence[str],
    op_col: str = "op",
    upsert: str = "U",
    delete: str = "D",
) -> DataFrame:
    """Apply a change-data-capture changelog to a base snapshot — MERGE
    INTO semantics without a table format: for each key the LATEST
    change (by ``order_cols``, descending, which must totally order each
    key's changes — e.g. ``["ts", "change_id"]``) wins; an upsert
    replaces the base row or inserts a new one, a delete removes the
    key; keys without changes pass through unchanged. The inverse of
    :func:`snapshot_diff` (diff produces a changelog; this applies one).

    ``base`` must be a snapshot (unique ``key_col``); ``changelog``
    must carry every non-key column of ``base`` plus ``op_col`` and the
    ``order_cols``. An op value other than ``upsert``/``delete`` raises
    at execution (checked on the per-key winners — summary-sized, never
    per-change).

    Scale shape: the changelog collapses to one winner per key through
    a per-key window top-1 (WindowGroupLimit prunes below the
    exchange), then ONE co-partitioned full-outer join against base —
    no iteration, no driver state, linear in |base| + |changelog|. The
    100 TB upsert-ingest shape: this is what a nightly MERGE compiles
    to on engines without transactional formats.
    """
    if not order_cols:
        raise ValueError("cdc_apply needs order_cols to totally order changes")
    from pyspark.sql import Window

    value_cols = [c for c in base.columns if c != key_col]
    missing = [c for c in value_cols if c not in changelog.columns]
    if missing:
        raise ValueError(f"changelog lacks base columns: {missing}")
    w = Window.partitionBy(key_col).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    win = (
        # NULL-key changes address no row: a snapshot has no NULL key to
        # replace, and inserting one would poison every later merge.
        changelog.filter(F.col(key_col).isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(key_col).alias("__ck"),
            F.when(F.col(op_col).isin(upsert, delete), F.col(op_col))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("cdc_apply: unknown op value "), F.col(op_col)
                    )
                )
            )
            .alias("__op"),
            *[F.col(c).alias(f"__c_{c}") for c in value_cols],
        )
    )
    joined = base.join(win, F.col(key_col) == F.col("__ck"), "full_outer")
    surviving = joined.filter(
        F.col("__op").isNull() | (F.col("__op") == F.lit(upsert))
    )
    is_change = F.col("__op").isNotNull()
    return surviving.select(
        F.coalesce(F.col(key_col), F.col("__ck")).alias(key_col),
        *[
            F.when(is_change, F.col(f"__c_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in value_cols
        ],
    )


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    *,
    bits: int = 20,
) -> DataFrame:
    """Leave-one-out target encoding — the supervised-ML categorical
    feature: each row's category becomes the mean target of all OTHER
    rows in that category, which avoids the self-leakage of a plain
    group mean. Rows whose category has a single occurrence get NULL
    (no peers to average — impute downstream).

    The per-row value is ``(S_g − x) / (n_g − 1)`` with S_g and x exact
    fixed-point int64 sums (2^bits scale), so the single double division
    replays identically on any engine/partitioning. NULL/NaN targets are
    excluded from BOTH the sums and the row count (they carry no target
    signal; their own rows still receive an encoding from their peers).

    Scale shape: one map-side-combined groupBy over the category column
    plus a broadcast join of the (category, sum, count) summary back to
    the rows — no window, no per-category shuffle of the data. Suits the
    usual case of metadata-sized category cardinality; for categories in
    the millions swap the broadcast for a shuffle join.

    Returns the input columns plus ``te_r`` (the descaled double).
    """
    v = F.col(target_col)
    clean = F.when(v.isNotNull() & ~F.isnan(v.cast("double")), v)
    from artigraph_spark.functions import fxp

    own = fxp(clean, bits)
    sums = (
        df.select(F.col(cat_col).alias("__c"), own.alias("__x"))
        .groupBy("__c")
        .agg(F.sum("__x").alias("__s"), F.count("__x").alias("__n"))
    )
    joined = df.join(
        F.broadcast(sums), df[cat_col] == F.col("__c"), "left"
    )
    has_self = own.isNotNull()
    peers = F.when(has_self, F.col("__n") - 1).otherwise(F.col("__n"))
    peer_sum = F.when(has_self, F.col("__s") - own).otherwise(F.col("__s"))
    return joined.select(
        *[df[c] for c in df.columns],
        F.when(
            peers > 0,
            peer_sum.cast("double")
            / (peers * F.lit(1 << bits)).cast("double"),
        ).alias("te_r"),
    )


def gini_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    bits: int = 20,
) -> DataFrame:
    """Per-group Gini concentration index over a NON-NEGATIVE value
    column — "how concentrated is spend across customers", the
    inequality/skew audit for revenue, token, or traffic distributions.
    Uses the standard order-statistics form
    ``G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)`` on fixed-point int64
    values; ties contribute the same Σ i·x under any permutation, so no
    tie-break is needed and the single double division is engine-exact.
    Products are widened to DECIMAL(38,0) (i·x reaches n·max_x·2^bits —
    past int64 exactly when the audit matters). Groups with zero total
    (or all-NULL values) return NULL gini.

    Scale shape (r10): Σ i·x collapses onto the value HISTOGRAM — a
    distinct value with min-rank ``rg`` and frequency ``f`` occupies the
    rank run ``rg..rg+f−1``, so its units contribute
    ``x·(f·rg + f·(f−1)/2)`` — and the min-ranks ride the bucketed
    two-phase prefix-sum rank (:mod:`.._ranks`), so no group's rows ever
    sort on one partition (previously a per-group raw-row window: a
    25-nation audit serialized the whole fact table onto 25 cores). The
    triangular term uses the parity-split integer halving (f·(f−1) is
    always even) — pure int64/DECIMAL arithmetic, no division rounding.
    Returns ``(group, n, gini_r)``.
    """
    from artigraph_spark.functions import fxp
    from artigraph_spark.operators._ranks import bucketed_group_value_ranks

    v = F.col(value_col)
    clean = (
        df.filter(
            F.col(group_col).isNotNull()
            & v.isNotNull()
            & ~F.isnan(v.cast("double"))
        )
        .select(F.col(group_col).alias("__g"), fxp(v, bits).alias("__x"))
    )
    ranks = bucketed_group_value_ranks(clean, ["__g"], "__x")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    xd = dec(F.col("__v"))
    fd, rgd = dec(F.col("__f")), dec(F.col("__rg"))
    # f·(f−1)/2 exactly: one factor is even, halve IT before multiplying
    # (a DECIMAL division would introduce scale; f·(f−1) in int64 would
    # overflow first at f ≈ 3e9).
    tri = F.when(
        F.col("__f") % 2 == 0,
        dec(F.expr("__f div 2")) * dec(F.col("__f") - 1),
    ).otherwise(fd * dec(F.expr("(__f - 1) div 2")))
    agg = ranks.groupBy(F.col("__g")).agg(
        F.sum("__f").alias("n"),
        F.sum(fd * xd).alias("__sx"),
        F.sum(xd * (fd * rgd + tri)).alias("__six"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    num = F.lit(2).cast("decimal(38,0)") * F.col("__six") - (nd + 1) * F.col("__sx")
    den = nd * F.col("__sx")
    return agg.select(
        F.col("__g").alias(group_col),
        "n",
        F.when(den != 0, num.cast("double") / den.cast("double")).alias("gini_r"),
    )


def auc_by_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    label_col: str,
    *,
    bits: int = 20,
) -> DataFrame:
    """Exact ROC-AUC per group (Mann–Whitney U with tie correction) — the
    model-evaluation staple: the probability a random positive outscores
    a random negative, ties counted half. Evaluates any score column
    (model output, heuristic, target encoding) against a boolean label
    without thresholding.

    Scores quantize to fixed-point (``floor(s·2^bits)``) so tie GROUPS
    are identical on every engine; with distinct-score histogram counts
    ``pos_v``/``neg_v`` ascending, ``AUC = Σ_v pos_v·(cumneg_<v +
    neg_v/2) / (P·N)``. Multiplying through by 2 keeps the numerator
    integral: ``num2 = Σ pos_v·(2·cumneg_<v + neg_v)`` with products
    widened to DECIMAL(38,0) (pos·cumneg reaches P·N — past int64
    exactly when rows do), and the single double division at the end
    replays identically on any engine/partitioning. Rows with NULL
    label or NULL/NaN score are excluded. Degenerate groups (no
    positives or no negatives) return NULL auc.

    Scale shape: ONE data-sized shuffle to the (group, score) histogram
    (map-side combined); the cumulative-negatives walk rides the
    range-bucketed two-phase prefix (``bucketed_prefix_sums``), so even
    a NEAR-UNIQUE score column — model outputs usually are — never
    parks a group's distinct-score walk on one partition (the r10 fix;
    the quantize-harder caveat is now an accuracy knob, not a scale
    requirement).

    Returns ``(group, n_pos, n_neg, auc_r)``.
    """
    from artigraph_spark.functions import fxp
    from artigraph_spark.operators._ranks import bucketed_prefix_sums

    lab = F.col(label_col).cast("boolean")
    s = F.col(score_col).cast("double")
    rows = df.filter(lab.isNotNull() & s.isNotNull() & ~F.isnan(s)).select(
        F.col(group_col),
        fxp(s, bits).alias("__s"),
        F.when(lab, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("__p"),
    )
    hist = rows.groupBy(group_col, "__s").agg(
        F.sum("__p").alias("__pos"),
        (F.count(F.lit(1)) - F.sum("__p")).alias("__neg"),
    )
    cum = bucketed_prefix_sums(hist, [group_col], "__s", ["__neg"]).withColumn(
        "__cumneg", F.col("__pre___neg")
    )
    agg = cum.groupBy(group_col).agg(
        F.sum("__pos").alias("n_pos"),
        F.sum("__neg").alias("n_neg"),
        F.sum(
            F.col("__pos").cast("decimal(38,0)")
            * (F.lit(2) * F.col("__cumneg") + F.col("__neg"))
        ).alias("__num2"),
    )
    return agg.select(
        group_col,
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.col("__num2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
        ).alias("auc_r"),
    )


def psi_drift(
    base: DataFrame,
    cur: DataFrame,
    value_col: str,
    *,
    bins: int = 10,
    bits: int = 20,
) -> DataFrame:
    """Population stability index between a baseline and a current
    distribution of one numeric column — THE production drift audit
    ("did this feature's distribution move since training?"). Bin edges
    are equi-depth type-1 quantiles of the BASELINE (exact integer rank
    ``ceil(i·n/bins) = (i·n + bins − 1) div bins`` — no float-rank
    drift), values assign to ``bin = #edges strictly below`` so
    duplicate/collapsed edges degrade gracefully, and each bin reports
    its PSI term ``(p − q)·ln(p/q)`` with zero proportions clamped to
    1e-6 (the standard practice) and the whole double term snapped to
    the 9-decimal guard grid (the BM25/ln convention — a cross-engine
    ULP can only matter if the true value straddles a grid boundary).
    Total PSI = SUM(psi_term_r); >0.2 is the usual "investigate" bar.

    Scale shape: one histogram shuffle per side plus a summary-sized
    cumulative window and a broadcast edge array — no global row sort,
    no collect; everything after the two histograms is ≤ distinct-value
    rows. NULL/NaN values are excluded from both sides.

    Returns ``(bin, base_n, cur_n, psi_term_r)`` ordered by bin.
    """
    from pyspark.sql import Window

    from artigraph_spark.functions import fxp

    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")

    def _clean(df: DataFrame) -> DataFrame:
        v = F.col(value_col).cast("double")
        return df.filter(v.isNotNull() & ~F.isnan(v)).select(
            fxp(v, bits).alias("__v")
        )

    def _hist(df: DataFrame) -> DataFrame:
        return _clean(df).groupBy("__v").agg(F.count(F.lit(1)).alias("__f"))

    # r14: the BASE histogram fans out to 2 consumers (the edge-deriving
    # prefix pass and its own bin assignment), and the prefix pass prunes
    # columns differently — no exchange reuse, so each consumer re-runs
    # the base-side scan+groupBy. Scale-adaptive single execution; no-op
    # at test scale (operators._adaptive.reuse_frame). The current-side
    # histogram has one consumer and stays lazy.
    hb, hc = reuse_frame(_hist(base)), _hist(cur)
    wg = Window.partitionBy()
    # The base histogram's cumulative walk is one bucketed_prefix_sums
    # call: plain windows while the histogram is summary-sized, else the
    # range-bucketed two-phase prefix, so near-unique columns (where the
    # histogram IS the data) never park on one partition (the r10 fix).
    # A cut above reads as the input it was cut from, which the walk's
    # size gate never reads as small, so the cut histogram stays bucketed.
    # Everything past the two histograms is one linear pipeline per side:
    # each row of the base histogram covers ranks in (cum − f, cum], so
    # the equi-depth edges fall out of a bins-1× explode + filter — no
    # rank self-join, no raw-row re-scan (one FileScan per side plus the
    # edge pass, whose repeated histogram exchange is runtime-reused).
    # The remaining wg windows run over the ≤bins-row bin summary only.
    from artigraph_spark.operators._ranks import bucketed_prefix_sums

    cb = bucketed_prefix_sums(hb, [], "__v", ["__f"]).select(
        "__v",
        "__f",
        (F.col("__pre___f") + F.col("__f")).alias("__cum"),
        F.col("__tot___f").alias("__n"),
    )
    er = (
        cb.select(
            "__v",
            "__cum",
            "__f",
            F.explode(F.sequence(F.lit(1), F.lit(bins - 1))).alias("__i"),
            "__n",
        )
        .select(
            "__v",
            "__cum",
            "__f",
            # Exact integer rank ceil(i*n/bins) via `div` — float division
            # plus floor can be off-by-one past 2^53 (the ADVICE r6 class).
            F.expr(f"(__i * __n + {bins - 1}) div {bins}").alias("__r"),
        )
        .filter(
            (F.col("__r") > F.col("__cum") - F.col("__f"))
            & (F.col("__r") <= F.col("__cum"))
        )
    )
    edge_arr = er.agg(F.array_sort(F.collect_set("__v")).alias("__edges"))

    def _binned(h: DataFrame, name: str) -> DataFrame:
        # Bin assignment runs over the HISTOGRAM (distinct values ×
        # counts), never the raw rows — summary-sized work.
        return (
            h.crossJoin(F.broadcast(edge_arr))
            .select(
                F.size(
                    F.filter(F.col("__edges"), lambda e: F.col("__v") > e)
                ).alias("bin"),
                "__f",
            )
            .groupBy("bin")
            .agg(F.sum("__f").alias(name))
        )

    both = (
        _binned(hb, "base_n")
        .join(_binned(hc, "cur_n"), "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("base_n", F.lit(0).cast("long")).alias("base_n"),
            F.coalesce("cur_n", F.lit(0).cast("long")).alias("cur_n"),
        )
        .withColumn("__nb", F.sum("base_n").over(wg))
        .withColumn("__nc", F.sum("cur_n").over(wg))
    )
    eps = F.lit(1e-6)
    p = F.greatest(F.col("base_n").cast("double") / F.col("__nb").cast("double"), eps)
    q = F.greatest(F.col("cur_n").cast("double") / F.col("__nc").cast("double"), eps)
    return both.select(
        "bin",
        "base_n",
        "cur_n",
        F.round((p - q) * F.log(p / q), 9).alias("psi_term_r"),
    )


def entropy_by_group(df: DataFrame, group_col: str, cat_col: str) -> DataFrame:
    """Shannon entropy (nats) of a categorical column per group — the
    diversity/imbalance audit: 0 = one category dominates totally,
    ln(k) = uniform over k categories. The class-balance companion to
    the concentration Gini: low entropy in a label or source column is
    how mode collapse and scraper bias show up in corpus audits.

    ``H = ln(n) − (Σ_c c·ln(c))/n`` over exact category counts; each
    ``c·ln(c)`` term is snapped to the 9-decimal guard grid and summed
    through the overflow-safe fixed-point path (``dsum_wide``) so the
    sum is order-independent, and the final expression is the same
    double op sequence on every engine. NULL categories are excluded.

    Scale shape: one (group, cat) count shuffle (map-side combined) +
    one group-keyed summary aggregate — no window, no data-sized state.

    Returns ``(group, n, n_cats, entropy_r)``.
    """
    from artigraph_spark.functions import dsum_wide

    cells = (
        df.filter(F.col(cat_col).isNotNull())
        .groupBy(group_col, cat_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    cd = F.col("__c").cast("double")
    stats = cells.groupBy(group_col).agg(
        F.sum("__c").alias("n"),
        F.count(F.lit(1)).alias("n_cats"),
        dsum_wide(F.round(cd * F.log(cd), 9)).alias("__slc"),
    )
    return stats.select(
        group_col,
        "n",
        "n_cats",
        (
            F.round(F.log(F.col("n").cast("double")), 9)
            - F.col("__slc") / F.col("n").cast("double")
        ).alias("entropy_r"),
    )


def chi2_independence(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Pearson chi-squared test of independence between two categorical
    columns, with Cramér's V effect size — the canonical "are these two
    fields related?" audit (label vs. source, segment vs. outcome).

    Uses the closed form ``chi2 = n·(Σ_cells n_ab²/(n_a·n_b) − 1)`` which
    needs only the OBSERVED cells (zero cells contribute exactly their
    expected mass, which the −1 absorbs) — no dense r×c materialisation.
    Each cell ratio is a double division of exact int64 counts, snapped
    to the 9-decimal guard grid and summed through the overflow-safe
    fixed-point path at 2^-30 (|term| ≤ 1, so up to ~8e9 cells fit
    int64·decimal widening). ``V = sqrt(max(chi2,0)/(n·min(r−1,c−1)))``,
    NULL when either side is constant. NULL categories are excluded.

    Scale shape: one (a,b) count shuffle (map-side combined), then
    marginals as window sums over the SUMMARY-sized cell table (≤ r·c
    rows — never the data), one scalar row out. Single FileScan,
    plan-locked.

    Returns one row ``(n, r, c, chi2_r, cramers_v_r)``.
    """
    from pyspark.sql import Window

    a, b = F.col(col_a), F.col(col_b)
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    joined = cells.withColumn(
        "__na", F.sum("__c").over(Window.partitionBy(col_a))
    ).withColumn("__nb", F.sum("__c").over(Window.partitionBy(col_b)))
    cd = F.col("__c").cast("double")
    term = F.round(
        cd * cd / (F.col("__na").cast("double") * F.col("__nb").cast("double")), 9
    )
    bits = 30
    s = joined.agg(
        F.sum("__c").alias("n"),
        F.count_distinct(a).alias("r"),
        F.count_distinct(b).alias("c"),
        (
            F.sum(F.floor(term * F.lit(float(1 << bits))).cast("long").cast("decimal(38,0)"))
            .cast("double")
            / F.lit(float(1 << bits))
        ).alias("__s"),
    )
    chi2 = F.col("n").cast("double") * (F.col("__s") - F.lit(1.0))
    minrc = F.least(F.col("r") - 1, F.col("c") - 1)
    return s.select(
        "n",
        "r",
        "c",
        F.round(chi2, 6).alias("chi2_r"),
        F.when(
            minrc > 0,
            F.round(
                F.sqrt(
                    F.greatest(chi2, F.lit(0.0))
                    / (F.col("n") * minrc).cast("double")
                ),
                6,
            ),
        ).alias("cramers_v_r"),
    )


def mutual_information(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Mutual information (nats) between two categorical columns — the
    information-theoretic dependence audit that, unlike chi-squared,
    reads directly as "how many bits of one field the other reveals"
    (feature/label leakage screening).

    ``MI = Σ_cells (n_ab/n)·ln(n_ab·n/(n_a·n_b))`` over observed cells
    (zero cells contribute 0). Each term is computed from exact int64
    counts, snapped to the 9-decimal guard grid, and summed through the
    overflow-safe fixed-point path at 2^-30; the result is
    engine-identical and partitioning-invariant.

    Scale shape: identical to :func:`chi2_independence` — one cell
    shuffle, marginals + total as window sums over the summary-sized
    cell table, one scalar row. Single FileScan, plan-locked.

    Returns one row ``(n, n_cells, mi_r)``.
    """
    from pyspark.sql import Window

    a, b = F.col(col_a), F.col(col_b)
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    joined = (
        cells.withColumn("__na", F.sum("__c").over(Window.partitionBy(col_a)))
        .withColumn("__nb", F.sum("__c").over(Window.partitionBy(col_b)))
        .withColumn("__n", F.sum("__c").over(Window.partitionBy()))
    )
    cd, nd = F.col("__c").cast("double"), F.col("__n").cast("double")
    term = F.round(
        (cd / nd)
        * F.log(
            cd * nd / (F.col("__na").cast("double") * F.col("__nb").cast("double"))
        ),
        9,
    )
    bits = 30
    return joined.agg(
        F.sum("__c").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        (
            F.sum(F.floor(term * F.lit(float(1 << bits))).cast("long").cast("decimal(38,0)"))
            .cast("double")
            / F.lit(float(1 << bits))
        ).alias("mi_r"),
    )


def ks_two_sample(
    base: DataFrame,
    cur: DataFrame,
    value_col: str,
    *,
    bits: int = 20,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between a baseline and a
    current distribution of one numeric column — the nonparametric
    companion to :func:`psi_drift`: ``D = max_v |CDF_b(v) − CDF_c(v)|``,
    sensitive to ANY distributional change, not just binned mass moves.

    Values quantize to the fixed-point grid, both CDFs accumulate over
    the merged distinct-value set, and the max runs over the EXACT
    integer cross products ``|cum_b·n_c − cum_c·n_b|`` (widened to
    DECIMAL(38,0)) — one double division at the very end, so the
    statistic replays identically on any engine/partitioning.

    Scale shape: one histogram shuffle per side, a summary-sized merge,
    then BOTH cumulative distributions and both totals ride the
    range-bucketed two-phase prefix (``bucketed_prefix_sums``) in one
    pass — distributed even for near-unique doubles where the merged
    histogram is data-sized (the r10 fix; lower ``bits`` is now an
    accuracy knob, not a scale requirement), one scalar row out.
    NULL/NaN values are excluded.

    Returns one row ``(n_base, n_cur, ks_r)``.
    """
    from artigraph_spark.functions import fxp
    from artigraph_spark.operators._ranks import bucketed_prefix_sums

    def _hist(df: DataFrame, name: str) -> DataFrame:
        v = F.col(value_col).cast("double")
        return (
            df.filter(v.isNotNull() & ~F.isnan(v))
            .select(fxp(v, bits).alias("__v"))
            .groupBy("__v")
            .agg(F.count(F.lit(1)).alias(name))
        )

    hb, hc = _hist(base, "__fb"), _hist(cur, "__fc")
    merged = (
        hb.join(hc, "__v", "full_outer")
        .select(
            "__v",
            F.coalesce("__fb", F.lit(0).cast("long")).alias("__fb"),
            F.coalesce("__fc", F.lit(0).cast("long")).alias("__fc"),
        )
    )
    # Cumulative CDFs and totals in ONE bucketed-prefix pass over the
    # merged histogram — each input side is scanned exactly once
    # (plan-locked), and no single partition ever holds the whole walk.
    cum = bucketed_prefix_sums(merged, [], "__v", ["__fb", "__fc"]).select(
        (F.col("__pre___fb") + F.col("__fb")).alias("__cb"),
        (F.col("__pre___fc") + F.col("__fc")).alias("__cc"),
        F.col("__tot___fb").alias("__nb"),
        F.col("__tot___fc").alias("__nc"),
    )
    num = F.abs(
        F.col("__cb").cast("decimal(38,0)") * F.col("__nc")
        - F.col("__cc").cast("decimal(38,0)") * F.col("__nb")
    )
    return (
        cum.agg(
            F.max("__nb").alias("n_base"),
            F.max("__nc").alias("n_cur"),
            F.max(num).cast("double").alias("__m"),
        )
        .select(
            "n_base",
            "n_cur",
            (
                F.col("__m")
                / (F.col("n_base").cast("double") * F.col("n_cur").cast("double"))
            ).alias("ks_r"),
        )
    )


def benford_digits(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution of a positive numeric column
    vs. Benford's law — the classic fabricated-data / synthetic-anomaly
    audit for naturally-spanning quantities (amounts, populations).

    The leading digit is extracted INTEGER-side — first character of the
    int64 string of ``floor(v)`` for v ≥ 1 — never via ``log10`` of a
    double, whose ulp disagreements near powers of ten would flip digits
    between engines. Expected mass is ``log10(1 + 1/d)`` on the guard
    grid; observed mass is an exact int64 ratio. Values < 1, NULL, or
    NaN are excluded (sub-unit values need a scale-up pass first).

    Scale shape: one 9-key count shuffle (map-side combined) + a global
    window over the ≤9-row summary for the total — single scan.

    Returns ``(digit, n_d, obs_p_r, exp_p_r, dev_r)`` for observed digits.
    """
    v = F.col(value_col).cast("double")
    rows = df.filter(v.isNotNull() & ~F.isnan(v) & (v >= 1.0)).select(
        F.substring(F.floor(v).cast("long").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    from pyspark.sql import Window

    counts = rows.groupBy("digit").agg(F.count(F.lit(1)).alias("n_d"))
    obs = F.round(F.col("n_d").cast("double") / F.col("__n").cast("double"), 9)
    exp = F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")), 9)
    return (
        # Total via a global window over the ≤9-row digit summary — the
        # whole query is one linear pipeline over a single scan.
        counts.withColumn("__n", F.sum("n_d").over(Window.partitionBy()))
        .select(
            "digit",
            "n_d",
            obs.alias("obs_p_r"),
            exp.alias("exp_p_r"),
            F.round(obs - exp, 9).alias("dev_r"),
        )
    )


def ab_test_proportions(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    *,
    variant_a,
    variant_b,
) -> DataFrame:
    """Two-proportion A/B test over per-unit outcomes (one row per unit
    with its variant and a 0/1 success flag): conversion rates per
    variant, absolute lift, and the pooled two-proportion z statistic —
    the experiment readout every product-analytics stack ships.

    ``z = (p_a − p_b) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b))`` with p̂ the
    pooled rate. Every input is an exact integer count, and the final
    doubles are the same literal op sequence on any engine with each
    reported value snapped to the 9-decimal guard grid — fully
    oracle-replayable. NULL if either arm is empty or the pooled rate
    is degenerate (0 or 1 — no variance, z undefined).

    Scale shape: ONE map-side-combined aggregation over the units
    (conditional counts per arm), then scalar arithmetic on a single
    summary row. Returns one row:
    ``(n_a, conv_a, n_b, conv_b, rate_a_r, rate_b_r, lift_r, z_r)``.
    """
    s = F.col(success_col).cast("long")
    agg = df.agg(
        F.sum(F.when(F.col(variant_col) == variant_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col(variant_col) == variant_a, s).otherwise(0)).alias("conv_a"),
        F.sum(F.when(F.col(variant_col) == variant_b, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col(variant_col) == variant_b, s).otherwise(0)).alias("conv_b"),
    )
    na, ca = F.col("n_a").cast("double"), F.col("conv_a").cast("double")
    nb, cb = F.col("n_b").cast("double"), F.col("conv_b").cast("double")
    pa, pb = ca / na, cb / nb
    pooled = (ca + cb) / (na + nb)
    se = F.sqrt(pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / na + F.lit(1.0) / nb))
    z = F.when(
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (pooled > F.lit(0.0))
        & (pooled < F.lit(1.0)),
        (pa - pb) / se,
    )
    return agg.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.when(F.col("n_a") > 0, F.round(pa, 9)).alias("rate_a_r"),
        F.when(F.col("n_b") > 0, F.round(pb, 9)).alias("rate_b_r"),
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), F.round(pa - pb, 9)).alias(
            "lift_r"
        ),
        F.round(z, 9).alias("z_r"),
    )


def rank_normalize(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    out_col: str = "pct_r",
) -> DataFrame:
    """Per-group rank (quantile) normalization: each value maps to its
    percent rank within its group — ``(rank − 1) / (n − 1)`` in [0, 1] —
    the distribution-free feature transform that makes a column
    comparable across groups with different scales (the rank analogue of
    z-scoring, immune to outliers and monotone re-scalings). Ties share
    a rank (standard competition ranking), so the result depends only on
    the value ordering — deterministic on any engine regardless of tie
    order. NULL values pass through with NULL ``out_col`` rather than
    polluting the ranking; a single-row group maps to 0.0 (Spark and
    DuckDB agree: percent_rank of n=1 is 0).

    Scale shape (r9, the bucketed two-phase prefix-sum rank — the
    select_token_budget technique): ties make the exact rank a function
    of (group, value) only, so ranks are computed on the (group, value)
    HISTOGRAM — one map-side-combined groupBy is the only data-sized
    shuffle — with range-bucketed prefix offsets supplying the
    cross-bucket counts, so no group is ever sorted on one partition
    (parallelism = groups×buckets; the pre-r9 raw-row window parked a
    3-group lineitem on 3 cores). The rank map joins back to the fact
    rows on (group, value) — an ordinary hash-partitioned equi-join.
    NULL ranks stay NULL through the left join; NULL group values keep
    forming their own ranking partition (eq-null-safe join keys).

    Returns ``df`` with ``out_col`` appended.
    """
    if not group_cols:
        raise ValueError("rank_normalize needs at least one group column")
    from artigraph_spark.operators._ranks import bucketed_group_value_ranks

    gcols = list(group_cols)
    # NULLs stay out of ranks and denominators (the pre-r9 NULLS LAST
    # contract); NaN remains a rankable value that sorts above every
    # number on both engines, so it stays IN the histogram.
    base = df.filter(F.col(value_col).isNotNull()).select(*gcols, value_col)
    ranks = bucketed_group_value_ranks(base, gcols, value_col)
    mapped = ranks.select(
        *[F.col(c).alias(f"__rg{i}") for i, c in enumerate(gcols)],
        "__v",
        F.when(
            F.col("__ng") > 1,
            F.round(
                (F.col("__rg") - F.lit(1)).cast("double")
                / (F.col("__ng") - F.lit(1)).cast("double"),
                9,
            ),
        ).otherwise(F.lit(0.0)).alias("__pct"),
    )
    cond = df[value_col] == mapped["__v"]
    for i, c in enumerate(gcols):
        cond = cond & df[c].eqNullSafe(F.col(f"__rg{i}"))
    return df.join(mapped, cond, "left").select(
        *[df[c] for c in df.columns], F.col("__pct").alias(out_col)
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Mann–Whitney U rank-sum test between two groups of one numeric
    column — the nonparametric alternative to the t-test (no normality
    assumption; rank-based, so monotone-transform-invariant), the
    standard "did the distribution shift?" readout when the metric is
    skewed (latencies, spend, token counts).

    Never ranks raw rows: U has the pair form ``U_A = Σ_pairs 1[x_a>x_b]
    + ½·1[x_a=x_b]``, which collapses onto the VALUE HISTOGRAM —
    ``U_A = Σ_v a_v·(CB(<v) + b_v/2)`` with a_v/b_v the per-group counts
    of value v and CB the cumulative count below v. One groupBy(value)
    shuffle, then the cumulative walk rides the range-bucketed two-phase
    prefix (``bucketed_prefix_sums``) — distributed even when the value
    column is near-unique and the histogram is data-sized (the r10 fix;
    this is the same reduction ks_two_sample uses). To stay
    in exact integer arithmetic U is carried DOUBLED (2U is always
    integral); products widen through DECIMAL(38,0) per the repo's
    overflow convention (n_a·n_b alone exceeds int64 at ~3e9 rows/side).

    The z statistic uses the normal approximation with the standard tie
    correction: ``σ² = (n_a·n_b/12)·((n+1) − Σ(t³−t)/(n(n−1)))`` — exact
    integer numerators, two double divisions, snapped to the 9-decimal
    guard grid. No continuity correction (documented; both engines
    replay the same formula).

    Returns one row ``(n_a, n_b, u2_a, u_a_r, z_r)``; ``u2_a`` = 2·U_A.
    NULL values and rows outside the two groups are excluded.
    """
    from artigraph_spark.operators._ranks import bucketed_prefix_sums

    g, v = F.col(group_col), F.col(value_col)
    # NaN values are excluded like NULLs (standard practice; counting
    # them would also make n_a/n_b silently include rows that carry no
    # orderable value — both engines sort NaN last, so the histogram
    # would stay consistent but the statistic would be wrong).
    hist = (
        df.filter(v.isNotNull() & ~F.isnan(v) & g.isin(group_a, group_b))
        .groupBy(value_col)
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("__a"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("__b"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cum = bucketed_prefix_sums(hist, [], value_col, ["__b"]).select(
        "__a",
        "__b",
        F.col("__pre___b").alias("__cb"),
    )
    per_v = cum.select(
        "__a",
        "__b",
        # 2·(a_v·(CB + b_v/2)) = a_v·(2·CB + b_v): exact integers.
        (dec(F.col("__a")) * (dec(F.col("__cb")) * 2 + dec(F.col("__b")))).alias(
            "__u2v"
        ),
        # tie correction numerator t³ − t over the POOLED tie group.
        (
            dec(F.col("__a") + F.col("__b"))
            * dec(F.col("__a") + F.col("__b"))
            * dec(F.col("__a") + F.col("__b"))
            - dec(F.col("__a") + F.col("__b"))
        ).alias("__t3t"),
    )
    s = per_v.agg(
        F.sum(dec(F.col("__a"))).alias("__na"),
        F.sum(dec(F.col("__b"))).alias("__nb"),
        F.sum("__u2v").alias("__u2"),
        F.sum("__t3t").alias("__tie"),
    )
    na, nb = F.col("__na").cast("double"), F.col("__nb").cast("double")
    n = na + nb
    u = F.col("__u2").cast("double") / F.lit(2.0)
    mu = na * nb / F.lit(2.0)
    var = (
        na
        * nb
        / F.lit(12.0)
        * ((n + F.lit(1.0)) - F.col("__tie").cast("double") / (n * (n - F.lit(1.0))))
    )
    return s.select(
        F.col("__na").cast("bigint").alias("n_a"),
        F.col("__nb").cast("bigint").alias("n_b"),
        F.col("__u2").cast("bigint").alias("u2_a"),
        F.round(u, 9).alias("u_a_r"),
        F.when(
            (F.col("__na") > 0) & (F.col("__nb") > 0) & (var > 0),
            F.round((u - mu) / F.sqrt(var), 9),
        ).alias("z_r"),
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups of one numeric
    column — the default two-sample mean comparison (Student's
    equal-variance assumption is never safe on production data). One
    conditional aggregate computes both groups' n/mean/variance in a
    single scan; means and the moment sums ride the fixed-point
    ``dsum`` path so the statistic replays identically cross-engine,
    and the final divisions are snapped to the 9-decimal guard grid.

    Degrees of freedom via Welch–Satterthwaite:
    ``df = (va/na + vb/nb)² / ((va/na)²/(na−1) + (vb/nb)²/(nb−1))``.
    NULL t/df when either group has <2 rows or both variances are 0.

    Scale shape: one map-side-combined global aggregate, one row out —
    the cheapest possible plan; nothing here grows with data beyond the
    scan.

    Returns one row
    ``(n_a, n_b, mean_a_r, mean_b_r, var_a_r, var_b_r, t_r, df_r)``.
    """
    from artigraph_spark.functions import davg, dvar_samp

    g, v = F.col(group_col), F.col(value_col)
    # NaN excluded like NULL: fxp(NaN) drops out of the fixed-point sums
    # but F.count would still count the row — a silently wrong mean.
    base = df.filter(v.isNotNull() & ~F.isnan(v) & g.isin(group_a, group_b))
    va_col = F.when(g == group_a, v)
    vb_col = F.when(g == group_b, v)
    s = base.agg(
        F.count(va_col).alias("n_a"),
        F.count(vb_col).alias("n_b"),
        F.round(davg(va_col), 9).alias("mean_a_r"),
        F.round(davg(vb_col), 9).alias("mean_b_r"),
        F.round(dvar_samp(va_col), 9).alias("var_a_r"),
        F.round(dvar_samp(vb_col), 9).alias("var_b_r"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sea = F.col("var_a_r") / na
    seb = F.col("var_b_r") / nb
    se2 = sea + seb
    t = (F.col("mean_a_r") - F.col("mean_b_r")) / F.sqrt(se2)
    dof = (se2 * se2) / (
        sea * sea / (na - F.lit(1.0)) + seb * seb / (nb - F.lit(1.0))
    )
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1) & (se2 > 0)
    return s.select(
        "n_a",
        "n_b",
        "mean_a_r",
        "mean_b_r",
        "var_a_r",
        "var_b_r",
        F.when(ok, F.round(t, 9)).alias("t_r"),
        F.when(ok, F.round(dof, 9)).alias("df_r"),
    )


def bootstrap_ci_mean(
    df: DataFrame,
    key: Column,
    value_col: str,
    *,
    replicates: int = 40,
    keep_pct: int = 63,
    alpha: float = 0.05,
    seed: int = 1,
) -> DataFrame:
    """Deterministic subsampled-bootstrap confidence interval for the mean
    of one numeric column: ``replicates`` pseudo-resamples, each keeping
    ~``keep_pct``% of rows by an integer multiplicative hash of
    ``(key, replicate, seed)`` (the sample_deterministic convention —
    engine- and partitioning-independent, reproducible run-to-run, which
    df.sample(seed) is NOT across engines), a fixed-point mean per
    replicate, and the empirical ``alpha/2``/``1−alpha/2`` order
    statistics of the replicate means as the interval. 63% ≈ the 1−1/e
    distinct-row mass of a classical bootstrap resample; this is the
    subsampling variant (no row weighting), the form that parallelizes
    with zero coordination.

    Scale shape: the scan fans out ×``replicates`` through one explode
    (documented cost — keep replicates modest; 30–50 stabilizes a CI),
    then ONE map-side-combined groupBy down to ``replicates`` partial
    rows; the order statistics run on that ≤replicates-row summary.
    No global sort of data rows, no driver-side loop.

    ``key`` must be an integral row-identifying column (cast/ combine
    upstream); its distribution does not matter — the hash whitens it.

    Returns one row
    ``(n_replicates, mean_full_r, ci_lo_r, ci_hi_r)``.
    """
    from pyspark.sql import Window

    from artigraph_spark.functions import davg

    if not (0 < keep_pct <= 100):
        raise ValueError(f"keep_pct must be in (0,100], got {keep_pct}")
    if replicates < 3:
        raise ValueError(f"replicates must be >= 3, got {replicates}")
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    v = F.col(value_col)
    # NaN excluded like NULL (fxp(NaN) vanishes from sums but not counts)
    base = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        key.cast("bigint").alias("__k"), v.alias("__v")
    )
    full = base.agg(F.round(davg("__v"), 9).alias("mean_full_r"))
    p = 1000000007
    rep = base.select(
        "__k",
        "__v",
        # bigint elements, not int: b * 97003999 overflows INT32 past
        # b = 22 and ANSI mode aborts the job.
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.lit(replicates - 1).cast("bigint"))
        ).alias("__b"),
    )
    # pmod, not %: Spark's % follows the dividend sign, so a negative
    # row key would make h negative and (h % 100) < keep_pct vacuously
    # true — those rows would sit in EVERY replicate, a silent
    # key-dependent bias. pmod keeps negative ids hashing uniformly.
    h = F.pmod(
        F.pmod(F.col("__k"), F.lit(p)) * 2654435761
        + F.col("__b") * 97003999
        + F.lit(seed) * 40503,
        F.lit(p),
    )
    means = (
        rep.filter(F.pmod(h, F.lit(100)) < keep_pct)
        .groupBy("__b")
        .agg(F.round(davg("__v"), 9).alias("__m"))
    )
    # Empirical order statistics over the replicate means: type-1 ranks
    # ceil(q·B) with a (mean, replicate-id) total order — deterministic
    # on any engine. Window over ≤replicates rows.
    wo = Window.orderBy(F.col("__m"), F.col("__b"))
    ranked = means.select(
        "__m", F.row_number().over(wo).alias("__rn"), F.count(F.lit(1)).over(Window.partitionBy()).alias("__nb")
    )
    lo_rn = F.greatest(F.ceil(F.lit(alpha / 2.0) * F.col("__nb")), F.lit(1))
    hi_rn = F.least(
        F.ceil(F.lit(1.0 - alpha / 2.0) * F.col("__nb")), F.col("__nb")
    )
    ci = ranked.agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.min(F.when(F.col("__rn") == lo_rn, F.col("__m"))).alias("ci_lo_r"),
        F.min(F.when(F.col("__rn") == hi_rn, F.col("__m"))).alias("ci_hi_r"),
    )
    return ci.crossJoin(F.broadcast(full)).select(
        "n_replicates", "mean_full_r", "ci_lo_r", "ci_hi_r"
    )


def cdc_as_of(
    base: DataFrame,
    changelog: DataFrame,
    key_col: str,
    *,
    order_cols: Sequence[str],
    as_of: Column,
    op_col: str = "op",
    upsert: str = "U",
    delete: str = "D",
) -> DataFrame:
    """Time travel over a CDC changelog: reconstruct the table state AS OF
    a point in the change order — :func:`cdc_apply` applied to the
    prefix of changes whose first ``order_cols`` entry is ≤ ``as_of``.
    This is the query side of the changelog-as-source-of-truth pattern
    (what Delta/Iceberg time travel does with snapshots, expressed over
    a raw change stream): any historical state is a filter + merge away,
    no stored snapshots per version.

    The filter prunes the changelog BEFORE the per-key window and merge
    join — at 100 TB the change scan is partition-pruned down to the
    requested horizon when the log is date-partitioned (the filter is a
    plain pushable predicate on the order column).

    Returns the reconstructed snapshot, same schema as ``base``.
    """
    if not order_cols:
        raise ValueError("cdc_as_of needs order_cols to totally order changes")
    pruned = changelog.filter(F.col(order_cols[0]) <= as_of)
    return cdc_apply(
        base,
        pruned,
        key_col,
        order_cols=order_cols,
        op_col=op_col,
        upsert=upsert,
        delete=delete,
    )

def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    out_col: str = "qn_value",
    quantize_bits: int | None = None,
    max_distinct_values: int = 10_000,
) -> DataFrame:
    """Quantile normalization: replace each row's value with the GLOBAL
    distribution's value at the row's within-group quantile — the
    batch-effect correction that makes groups comparable when they share
    shape but not scale/offset (per-tenant spend, per-instrument
    readings, per-day traffic mixes). After it, every group's
    distribution is (up to ties) the global one.

    Exact mapping with ZERO divisions: within-group min-rank ``r_g``
    (ties share a rank — rank(), deterministic on both engines), target
    global rank ``r* = ceil(r_g·N/n_g)``, and the output is the global
    type-1 quantile at r* — the histogram row with
    ``cum_prev < r* ≤ cum``. Both bounds rewrite divisionless:
    ``ceil(a/b) ∈ (lo, hi] ⇔ a > lo·b AND a ≤ hi·b``, so the whole
    condition is four DECIMAL(38,0) products of exact counts — no
    float, no decimal division rounding, engine-identical at any size.

    Scale shape (r9): the within-group rank rides the bucketed
    two-phase prefix-sum histogram rank (see
    :mod:`artigraph_spark.operators._ranks` — one map-side-combined
    groupBy(group, value) shuffle, groups×buckets parallel local
    windows; the pre-r9 raw-row window parked each group's sort on one
    partition), joined back to the fact rows on (group, value). The
    GLOBAL value histogram stays a distinct-value-sized summary walk —
    the operator REQUIRES a quantized metric, and since r11 ENFORCES it:
    the rank→value mapping is a range probe of every fact row against
    the BROADCAST histogram, so a near-unique metric would silently blow
    both the broadcast and the per-row probe. If the global histogram
    exceeds ``max_distinct_values`` distinct values the job fails at
    execution with a message naming ``quantize_bits``; pass
    ``quantize_bits`` (the spearman fxp convention — values snap to the
    grid ``floor(v·2^bits)/2^bits``, NEGATIVE bits coarsen, e.g. -4 →
    cells of 16) to normalize on the binned scale, or raise the
    threshold deliberately. NULL values pass through with NULL output.

    Returns ``df`` plus ``out_col`` (grid-scale values when
    ``quantize_bits`` is set).
    """
    from pyspark.sql import Window

    from artigraph_spark.operators._ranks import bucketed_group_value_ranks

    if max_distinct_values < 1:
        raise ValueError(
            f"max_distinct_values must be >= 1, got {max_distinct_values}"
        )
    raw = F.col(value_col)
    if quantize_bits is not None:
        scale = float(2.0**quantize_bits)
        v = F.floor(raw.cast("double") * F.lit(scale)) / F.lit(scale)
    else:
        v = raw
    ok = raw.isNotNull() & ~F.isnan(raw)  # NaN behaves like NULL throughout
    hist = (
        df.filter(ok)
        .groupBy(v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__f"))
    )
    wo = Window.orderBy("__v")
    n_distinct = F.count(F.lit(1)).over(Window.partitionBy())
    guard = F.assert_true(
        n_distinct <= F.lit(max_distinct_values),
        F.concat(
            F.lit(
                "quantile_normalize: the global value histogram has "
            ),
            n_distinct.cast("string"),
            F.lit(
                f" distinct values (> max_distinct_values={max_distinct_values});"
                " the rank->value map is broadcast + range-probed per row, so a"
                " near-unique metric must be quantized first - pass"
                " quantize_bits (negative to coarsen) or raise"
                " max_distinct_values deliberately"
            ),
        ),
    )
    cum = hist.select(
        F.when(guard.isNull(), F.col("__v")).alias("__v"),
        F.sum("__f").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("__cum"),
        F.coalesce(
            F.sum("__f").over(wo.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ).alias("__cumprev"),
        F.sum("__f").over(Window.partitionBy()).alias("__N"),
    )
    # Within-group rank of each distinct value via the bucketed prefix
    # sum; NaN is excluded here entirely (the ok guard) so it stays out
    # of n_g as well — matching the pre-r9 NULLS-LAST window contract.
    # Ranks run over the (possibly grid-snapped) value so the fact-row
    # join key and the histogram key stay the same scale.
    base = df.filter(ok).select(group_col, v.alias("__qval"))
    rmap = bucketed_group_value_ranks(base, [group_col], "__qval").select(
        F.col(group_col).alias("__qg"), F.col("__v").alias("__qv"), "__rg", "__ng"
    )
    # Range-probe at the DISTINCT-PAIR level, not per fact row (r12):
    # every row with the same (group, value) shares r_g/n_g and hence the
    # same target value, so the BNLJ range probe needs only the
    # groups×distinct-values rank map — summary-sized by the enforced
    # quantized-metric contract — against the ≤max_distinct_values
    # histogram. The pre-r12 plan probed every FACT row (600 k × histogram
    # predicate evaluations at sf0.1 — the r11 verdict's watch item #2);
    # now the only data-sized operation is the equi-join that attaches
    # the mapped value back onto the rows, which the plan already paid
    # for the ranks. Every rank map row matches exactly one histogram
    # interval (1 ≤ r* ≤ N), so the probe join is inner.
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    a = dec(F.col("__rg")) * dec(F.col("__N"))  # r_g·N, exact
    vmap = rmap.join(
        F.broadcast(cum),
        (a > dec(F.col("__cumprev")) * dec(F.col("__ng")))
        & (a <= dec(F.col("__cum")) * dec(F.col("__ng"))),
        "inner",
    ).select("__qg", "__qv", F.col("__v").alias("__qnv"))
    matched = df.join(
        vmap,
        F.col(group_col).eqNullSafe(F.col("__qg")) & (v == F.col("__qv")),
        "left",
    )
    keep = list(df.columns)
    return matched.select(*keep, F.col("__qnv").alias(out_col))


def lorenz_points(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    buckets: int = 10,
    prescaled: bool = False,
) -> DataFrame:
    """Lorenz-curve points per group: for each population decile (by
    ascending value), the cumulative share of the total value that the
    bottom d/``buckets`` of units holds — the CURVE behind
    :func:`gini_by_group`'s single number ("the bottom 50% of customers
    carry 12% of revenue"), concentration reporting every revenue/token/
    traffic audit plots.

    Exactness: units rank by ``(value, unit id implied by input order —
    pass pre-aggregated unique units)`` via a per-group window; decile
    assignment is the feature_bins integer form
    ``(buckets·rank + n − 1) div n`` (positive operands — Spark's
    truncating div equals DuckDB's floor div); value mass rides exact
    fixed-point int64 sums and the two shares are single divisions on
    the guard grid.

    Scale (r10): units collapse onto the per-group value HISTOGRAM with
    bucketed prefix-sum min-ranks — a distinct value's ``f`` tied units
    occupy the contiguous rank run ``rg..rg+f−1``, the deciles that run
    touches are ``ceil(buckets·rg/n)..ceil(buckets·(rg+f−1)/n)`` (a
    sequence-explode of at most run-span-in-deciles extra rows — ≤
    buckets boundary splits per group in total), and each (run, decile)
    overlap contributes exact integer ``count`` and fixed-point mass.
    No group's units ever sort on one partition (previously a per-group
    raw-row row_number window — a 25-nation audit serialized all
    customers onto 25 cores). Tie ORDER within a run is immaterial:
    tied units carry identical ``__vfx``, so every bucket's sum and
    count are tie-permutation-invariant (the gini_by_group argument).
    Negative values are allowed (the curve can dip below zero, as real
    Lorenz curves do for net-loss units); NULL values are excluded.

    Returns ``(group, bucket, n_units, pop_share_r, value_share_r)``
    ordered within group by bucket — value_share_r is cumulative.
    """
    from pyspark.sql import Window

    from artigraph_spark.functions import fxp
    from artigraph_spark.operators._ranks import bucketed_group_value_ranks

    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    v = F.col(value_col)
    # prescaled=True: the caller already delivers exact fixed-point
    # int64 units (e.g. F.sum(fxp(x)) per unit — REQUIRED when the unit
    # value is itself an aggregate: fxp(F.sum(double)) would quantize an
    # order-dependent double sum and drift cross-engine).
    unit_val = v.cast("long") if prescaled else fxp(v)
    nan_guard = (
        F.lit(True) if prescaled else ~F.isnan(v.cast("double"))
    )
    base = df.filter(v.isNotNull() & nan_guard).select(
        F.col(group_col).alias("__g"), unit_val.alias("__vfx")
    )
    ranks = bucketed_group_value_ranks(base, ["__g"], "__vfx")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # decile of rank r: ceil(buckets·r/n) = (buckets·r + n − 1) div n —
    # the feature_bins integer form; a run spans contiguous deciles.
    b_lo = F.expr(f"({buckets} * __rg + __ng - 1) div __ng")
    b_hi = F.expr(f"({buckets} * (__rg + __f - 1) + __ng - 1) div __ng")
    spanned = ranks.select(
        "__g",
        F.col("__v").alias("__vfx"),
        "__f",
        "__rg",
        F.col("__ng").alias("__n"),
        F.explode(F.sequence(b_lo, b_hi)).alias("__b"),
    )
    # decile __b covers ranks [ (b−1)·n div buckets + 1, b·n div buckets ]
    d_lo = F.expr(f"((__b - 1) * __n) div {buckets}") + 1
    d_hi = F.expr(f"(__b * __n) div {buckets}")
    run_hi = F.col("__rg") + F.col("__f") - 1
    cnt = F.least(d_hi, run_hi) - F.greatest(d_lo, F.col("__rg")) + 1
    overlapped = spanned.select(
        "__g",
        "__b",
        "__n",
        cnt.alias("__cnt"),
        (dec(cnt) * dec(F.col("__vfx"))).alias("__mass"),
    ).filter(F.col("__cnt") > 0)
    per_bucket = overlapped.groupBy("__g", "__b").agg(
        F.sum("__cnt").alias("n_units"),
        F.sum("__mass").alias("__bs"),
        F.max("__n").alias("__n"),
    )
    wo = Window.partitionBy("__g").orderBy("__b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("__g")
    return per_bucket.select(
        F.col("__g").alias(group_col),
        F.col("__b").alias("bucket"),
        "n_units",
        F.round(
            F.sum("n_units").over(wo).cast("double") / F.col("__n").cast("double"),
            9,
        ).alias("pop_share_r"),
        # NULL share when the group's total mass is exactly 0 (shares are
        # undefined; the unguarded division is an ANSI abort)
        F.when(
            F.sum("__bs").over(wt) != 0,
            F.round(
                F.sum("__bs").over(wo).cast("double")
                / F.sum("__bs").over(wt).cast("double"),
                9,
            ),
        ).alias("value_share_r"),
    )


def fk_integrity_audit(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    *,
    relation: str,
) -> DataFrame:
    """Referential-integrity audit for one foreign-key relation: how many
    child rows point at a parent that does not exist — the dbt-test /
    data-contract staple that catches broken ingestion joins before they
    silently drop rows downstream. SQL semantics: a NULL foreign key is
    NOT a violation (it is counted separately as ``n_null_keys``).

    Scale shape: one distinct-projection of the parent key (map-side
    combined) left-joined under the child scan — Catalyst broadcasts the
    key set while it is small and hash-joins otherwise; one
    map-side-combined aggregate produces the single summary row. No
    driver-side key sets.

    Returns one row ``(relation, n_rows, n_null_keys, n_orphans,
    orphan_rate_r)`` — the rate is over non-NULL keys, NULL when there
    are none.
    """
    pk = parent.select(F.col(parent_key).alias("__pk")).distinct()
    ck = F.col(child_key)
    joined = child.select(ck.alias("__ck")).join(
        pk, F.col("__ck") == F.col("__pk"), "left"
    )
    n_nonnull = F.sum(F.when(F.col("__ck").isNotNull(), 1).otherwise(0))
    n_orphans = F.sum(
        F.when(F.col("__ck").isNotNull() & F.col("__pk").isNull(), 1).otherwise(0)
    )
    return joined.agg(
        F.lit(relation).alias("relation"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("__ck").isNull(), 1).otherwise(0)).alias("n_null_keys"),
        n_orphans.alias("n_orphans"),
        F.when(
            n_nonnull > 0,
            F.round(n_orphans.cast("double") / n_nonnull.cast("double"), 9),
        ).alias("orphan_rate_r"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    bins: int = 10,
) -> DataFrame:
    """Reliability table for a score against a binary outcome: equi-width
    score bins with each bin's observed positive rate and mean score —
    the calibration-curve data behind "does a 0.8 score mean 80%?"
    (model monitoring's companion to AUC, which only checks ranking).

    Bin assignment is ``floor((s − min)·bins/(max − min))`` capped at
    bins−1 — double arithmetic, but both engines run the identical
    correctly-rounded ops on identical inputs, so the assignment
    replays (the feature_bins convention). Mean score and positive rate
    ride fixed-point / integer sums with one rounded division each.
    NULL/NaN scores and NULL labels are excluded.

    Scale shape: one broadcast one-row (min, max) join + one map-side
    combined groupBy(bin) — scan-linear, summary-sized output.

    Returns ``(bin, n, mean_score_r, pos_rate_r)``.
    """
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    from artigraph_spark.functions import davg

    s = F.col(score_col)
    lab = F.col(label_col).cast("int")
    base = df.filter(
        s.isNotNull() & ~F.isnan(s.cast("double")) & lab.isNotNull()
    ).select(s.cast("double").alias("__s"), lab.alias("__y"))
    rng = base.agg(F.min("__s").alias("__lo"), F.max("__s").alias("__hi"))
    bexpr = F.when(
        F.col("__hi") > F.col("__lo"),
        F.least(
            F.floor(
                (F.col("__s") - F.col("__lo"))
                * F.lit(float(bins))
                / (F.col("__hi") - F.col("__lo"))
            ),
            F.lit(bins - 1),
        ),
    ).otherwise(F.lit(0))
    return (
        base.crossJoin(F.broadcast(rng))
        .select(bexpr.cast("long").alias("bin"), "__s", "__y")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(davg("__s"), 9).alias("mean_score_r"),
            F.round(
                F.sum("__y").cast("double") / F.count(F.lit(1)).cast("double"), 9
            ).alias("pos_rate_r"),
        )
    )


def duplication_report(
    df: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """Per-group exact-duplication report: document count, distinct
    content count (sha256 of the text — the exact-dedup content key),
    and the duplicate-mass rate ``1 − distinct/n`` — the corpus-health
    readout that decides whether a source needs the dedup pass at all
    and certifies the result afterwards (dup_rate ≈ 0).

    Scale shape: one groupBy(group, hash) distinct reduction (map-side
    combined — the same shuffle the exact dedup itself performs) and a
    groups-sized rollup. NULL texts are counted separately, never
    hashed.

    Returns ``(group, n_docs, n_null_texts, n_distinct, dup_rate_r)``.
    """
    g = F.col(group_col)
    per_hash = (
        df.select(g.alias("__g"), F.col(text_col).alias("__t"))
        .withColumn(
            "__h", F.when(F.col("__t").isNotNull(), F.sha2(F.col("__t"), 256))
        )
        .groupBy("__g", "__h")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    n_docs = F.sum(F.when(F.col("__h").isNotNull(), F.col("__c")).otherwise(0))
    n_distinct = F.sum(F.when(F.col("__h").isNotNull(), 1).otherwise(0))
    return (
        per_hash.groupBy(F.col("__g").alias(group_col))
        .agg(
            n_docs.alias("n_docs"),
            F.sum(
                F.when(F.col("__h").isNull(), F.col("__c")).otherwise(0)
            ).alias("n_null_texts"),
            n_distinct.alias("n_distinct"),
            F.when(
                n_docs > 0,
                F.round(
                    F.lit(1.0)
                    - n_distinct.cast("double") / n_docs.cast("double"),
                    9,
                ),
            ).alias("dup_rate_r"),
        )
    )


def proportion_ztests_bh(
    df: DataFrame,
    bucket_col: str,
    success: Column,
    *,
    alpha: float = 0.05,
) -> DataFrame:
    """Per-bucket two-proportion z-tests against the rest of the data,
    with Benjamini–Hochberg FDR correction across the buckets — the
    multiple-testing audit behind "which hour/segment/cohort REALLY
    converts differently?" (k raw p < 0.05 tests expect k·0.05 false
    positives; BH controls the false-discovery RATE instead).

    Per bucket i: z = (p̂ᵢ − p̂ᵣ) / √(p̂(1−p̂)(1/nᵢ + 1/nᵣ)) with the
    rest-of-data proportion p̂ᵣ and the pooled global p̂ — exact integer
    counts into one double expression; two-sided p = 2·(1 − Φ(|z|))
    through the engine-identical :func:`functions.phi_approx`
    polynomial. BH: order p ascending (bucket id tie-break), adjusted
    p(i) = min over j ≥ i of p(j)·m/j clipped at 1 — a running min over
    the k-row summary, windows all summary-sized. Degenerate buckets
    (n = N, or zero pooled variance) get NULL z/p and sort last,
    excluded from m.

    Scale shape: ONE map-side-combined groupBy(bucket) over the data;
    everything after runs on the k-bucket summary. Returns
    ``(bucket, n, successes, rate_r, z_r, p_r, p_adj_r, reject)``.
    """
    if not (0 < alpha < 1):
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    from pyspark.sql import Window

    per = (
        df.filter(F.col(bucket_col).isNotNull())
        .groupBy(F.col(bucket_col).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(success.cast("int")).alias("successes"),
        )
    )
    tot = per.agg(
        F.sum("n").alias("__N"),
        F.sum("successes").alias("__S"),
        F.count(F.lit(1)).alias("__k"),
    )
    j = per.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    nr = (F.col("__N") - F.col("n")).cast("double")
    p_i = F.col("successes").cast("double") / nd
    p_r = (F.col("__S") - F.col("successes")).cast("double") / nr
    pool = F.col("__S").cast("double") / F.col("__N").cast("double")
    var = pool * (F.lit(1.0) - pool) * (F.lit(1.0) / nd + F.lit(1.0) / nr)
    z = F.when((nr > 0) & (var > 0), F.round((p_i - p_r) / F.sqrt(var), 9))
    from artigraph_spark.functions import phi_approx

    scored = j.select(
        "bucket",
        "n",
        "successes",
        F.round(p_i, 9).alias("rate_r"),
        z.alias("z_r"),
        "__k",
    ).withColumn(
        "p_r",
        F.when(
            F.col("z_r").isNotNull(),
            F.round(
                F.lit(2.0) * (F.lit(1.0) - phi_approx(F.abs(F.col("z_r")))), 9
            ),
        ),
    )
    # BH over the k' testable buckets: rank p ascending (bucket
    # tie-break), running min of p·m/j from the largest rank down.
    w_rank = Window.orderBy(
        F.col("p_r").asc_nulls_last(), F.col("bucket").asc_nulls_last()
    )
    m = F.sum(F.when(F.col("p_r").isNotNull(), 1).otherwise(0)).over(
        Window.partitionBy()
    )
    ranked = scored.select(
        "bucket", "n", "successes", "rate_r", "z_r", "p_r",
        F.row_number().over(w_rank).alias("__j"),
        m.alias("__m"),
    )
    w_tail = Window.orderBy(F.col("__j").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    adj = F.least(
        F.round(
            F.min(
                F.col("p_r") * F.col("__m").cast("double")
                / F.col("__j").cast("double")
            ).over(w_tail),
            9,
        ),
        F.lit(1.0),
    )
    adjusted = ranked.select(
        "bucket",
        "n",
        "successes",
        "rate_r",
        "z_r",
        "p_r",
        F.when(F.col("p_r").isNotNull(), adj).alias("p_adj_r"),
    )
    return adjusted.withColumn(
        "reject",
        F.when(
            F.col("p_adj_r").isNotNull(), F.col("p_adj_r") <= F.lit(alpha)
        ),
    )


def cohens_d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Cohen's d (and the small-sample Hedges' g correction) between two
    groups of one numeric column — the EFFECT-SIZE companion to
    :func:`welch_ttest`: a t-test says whether a difference is real, d
    says whether it is big enough to matter (at production n, trivial
    differences are "significant"; reporting d alongside p is the
    standard fix). ``d = (mean_a − mean_b) / s_pooled`` with
    ``s_pooled = √(((n_a−1)·v_a + (n_b−1)·v_b) / (n_a+n_b−2))``;
    ``g = d·(1 − 3/(4(n_a+n_b) − 9))``.

    Same exactness contract as welch_ttest: one conditional aggregate
    computes both groups' fixed-point moments in a single scan; every
    division past the rounded moments is plain double arithmetic both
    engines run identically. NULL d/g when either group has <2 rows or
    the pooled variance is 0. NaN values are excluded like NULL.

    Scale shape: one map-side-combined global aggregate, one row out.

    Returns one row
    ``(n_a, n_b, mean_a_r, mean_b_r, pooled_sd_r, cohens_d_r,
    hedges_g_r)``.
    """
    from artigraph_spark.functions import davg, dvar_samp

    g, v = F.col(group_col), F.col(value_col)
    base = df.filter(v.isNotNull() & ~F.isnan(v) & g.isin(group_a, group_b))
    va_col = F.when(g == group_a, v)
    vb_col = F.when(g == group_b, v)
    s = base.agg(
        F.count(va_col).alias("n_a"),
        F.count(vb_col).alias("n_b"),
        F.round(davg(va_col), 9).alias("mean_a_r"),
        F.round(davg(vb_col), 9).alias("mean_b_r"),
        F.round(dvar_samp(va_col), 9).alias("__va"),
        F.round(dvar_samp(vb_col), 9).alias("__vb"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    pooled_var = (
        (na - F.lit(1.0)) * F.col("__va") + (nb - F.lit(1.0)) * F.col("__vb")
    ) / (na + nb - F.lit(2.0))
    sd = F.sqrt(pooled_var)
    d = (F.col("mean_a_r") - F.col("mean_b_r")) / sd
    gcorr = d * (
        F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (na + nb) - F.lit(9.0))
    )
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1) & (pooled_var > 0)
    return s.select(
        "n_a",
        "n_b",
        "mean_a_r",
        "mean_b_r",
        F.when(ok, F.round(sd, 9)).alias("pooled_sd_r"),
        F.when(ok, F.round(d, 9)).alias("cohens_d_r"),
        F.when(ok, F.round(gcorr, 9)).alias("hedges_g_r"),
    )


def cuped_adjust(
    units: DataFrame,
    variant_col: str,
    y_col: str,
    x_col: str,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013, the
    industry-standard A/B trick): adjust each unit's metric with its
    PRE-experiment covariate, ``Y' = Y − θ·(X − x̄)`` with
    ``θ = cov(X, Y)/var(X)`` pooled over all units — the adjusted
    per-variant means have variance shrunk by the squared X–Y
    correlation, so experiments reach significance with a fraction of
    the traffic. Since E[X] is identical across (randomized) variants,
    the adjustment is unbiased for the treatment effect.

    Input is ONE ROW PER UNIT (pre-aggregate the raw events first);
    rows with NULL/NaN in either column are excluded. θ rides the
    fixed-point moment path (Σx, Σy at 2^-20, Σx², Σxy at 2^-10 through
    the overflow-safe DECIMAL widening), so it replays identically at
    any partitioning; everything after is plain double algebra on the
    9-decimal grid. θ and the variance-reduction diagnostic
    ``rho2 = cov²/(var_x·var_y)`` are reported on every row.

    Scale shape: one map-side-combined global moment aggregate (one
    row, broadcast) + one map-side-combined per-variant aggregate —
    nothing beyond the scan grows with data.

    Returns one row per variant:
    ``(variant, n, mean_y_r, mean_x_r, adj_mean_r, theta_r, rho2_r)``.
    """
    from artigraph_spark.functions import davg, dsum, dsum_wide, dvar_samp

    yv, xv = F.col(y_col), F.col(x_col)
    ok = (
        yv.isNotNull()
        & ~F.isnan(yv.cast("double"))
        & xv.isNotNull()
        & ~F.isnan(xv.cast("double"))
    )
    base = units.filter(ok).select(
        F.col(variant_col).alias("__v"), yv.alias("__y"), xv.alias("__x")
    )
    nd = F.count(F.lit(1)).cast("double")
    sx = dsum("__x", 20)
    sy = dsum("__y", 20)
    sxy = dsum_wide(F.col("__x") * F.col("__y"), 10)
    cov = F.when(nd > 1, (sxy - sx * sy / nd) / (nd - F.lit(1.0)))
    glob = base.agg(
        F.round(davg("__x"), 9).alias("__gx"),
        cov.alias("__cov"),
        dvar_samp("__x").alias("__vx"),
        dvar_samp("__y").alias("__vy"),
    ).select(
        "__gx",
        F.when(F.col("__vx") > 0, F.round(F.col("__cov") / F.col("__vx"), 9))
        .otherwise(F.lit(0.0))
        .alias("__theta"),
        F.when(
            (F.col("__vx") > 0) & (F.col("__vy") > 0),
            F.round(
                F.col("__cov") * F.col("__cov") / (F.col("__vx") * F.col("__vy")),
                9,
            ),
        ).alias("__rho2"),
    )
    per_variant = base.groupBy(F.col("__v").alias(variant_col)).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(davg("__y"), 9).alias("mean_y_r"),
        F.round(davg("__x"), 9).alias("mean_x_r"),
    )
    return per_variant.crossJoin(F.broadcast(glob)).select(
        variant_col,
        "n",
        "mean_y_r",
        "mean_x_r",
        F.round(
            F.col("mean_y_r")
            - F.col("__theta") * (F.col("mean_x_r") - F.col("__gx")),
            9,
        ).alias("adj_mean_r"),
        F.col("__theta").alias("theta_r"),
        F.col("__rho2").alias("rho2_r"),
    )
