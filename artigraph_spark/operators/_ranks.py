"""Distributed exact-rank primitives.

The naive exact rank — ``rank().over(Window.partitionBy(g).orderBy(v))``
— concentrates each group's ENTIRE sort on one partition: with few, huge
groups (3 returnflag groups over a 100 TB lineitem) the job parks the
corpus on 3 cores. These helpers compute the *same exact ranks* through
ONE walk, a range-bucket two-phase prefix scan (Blelloch's scan written
as Spark windows; the ``select_token_budget`` /
``sorted_neighborhood_pairs`` pattern):

1. :func:`_bucket_map` — range-bucket the ordering value with a
   deterministic monotone map (any monotone bucketing is rank-exact as
   long as ties land in the same bucket — trivially true for a pure
   function of the value);
2. :func:`_offsets_join` — aggregate per-(group, bucket) sums (a
   groups×buckets summary frame), prefix-sum them into per-bucket
   offsets, and join the offsets back, on (group eq-null-safe, bucket),
   to a WITHIN-bucket window — parallelism groups×buckets instead of
   groups — adding offset and local value.

Every public walk is one case of that core:

- :func:`bucketed_prefix_sums` — exclusive running sums of the caller's
  columns over a (group, value) histogram;
- :func:`bucketed_group_value_ranks` — a prefix pass of the frequency
  ``__f`` over its own histogram (competition rank = prefix + 1, group
  size = total);
- :func:`bucketed_group_row_numbers` — a local ``row_number`` plus
  per-bucket row-count offsets;
- :func:`bucketed_row_numbers` — its zero-group case, ascending or
  descending.

The two prefix walks choose their own shape. Each checks
``_adaptive.summary_sized`` on its un-cut input: a summary-sized input
takes :func:`window_prefix_sums`, the plain-window twin (one exchange
and sort, no bucket map, no join, no lineage cut); any other input takes
the bucketed walk behind its own ``reuse_frame`` cut. Integral and
DECIMAL sums are order-independent, so both shapes give identical rows
and callers make one call with no branch. The row-number walks always
take the bucketed shape.

Exactness does not depend on bucket balance: skewed buckets only cost
parallelism, never correctness, so the bucket map can be a cheap
float expression (floor-linear over the global min/max). Both engines
never see the buckets — they are internal to the Spark plan — so no
cross-engine arithmetic contract applies to them.

Reference scope note: the reference framework (arti) has no ranking
kernels at all; these primitives back the SURVEY §2 normalization /
segmentation operators (rank_normalize, quantile_normalize,
rfm_segments).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, NumericType

from artigraph_spark.operators import _adaptive

_NULL_BUCKET = -1  # sorts first asc / last desc, like Spark's null ordering


def _bucket_map(
    rows: DataFrame, value_col: str, buckets: int, src: DataFrame | None = None
) -> DataFrame:
    """``rows`` with ``__bk``, the deterministic monotone int bucket of
    ``value_col``, appended.

    NULL → -1 (mirrors Spark's asc-nulls-first / desc-nulls-last). A
    non-numeric value puts every other row in bucket 0. A numeric one
    puts NaN in ``buckets`` (NaN sorts above every number on both
    engines) and finite values floor-linear into [0, buckets-1] over the
    non-NaN min/max of ``src[value_col]`` (default ``rows``) — a one-row
    broadcast frame. Monotone because every step (subtract, divide by a
    positive range, floor) is monotone non-decreasing in the value.
    """
    v = F.col(value_col)
    bk = F.when(v.isNull(), F.lit(_NULL_BUCKET))
    if not isinstance(rows.schema[value_col].dataType, NumericType):
        return rows.withColumn("__bk", bk.otherwise(F.lit(0)).cast("int"))
    vd = v.cast("double")
    guard = F.when(~F.isnan(vd), vd)
    rng = (rows if src is None else src).agg(
        F.min(guard).alias("__lo"), F.max(guard).alias("__hi")
    )
    lo, hi = F.col("__lo"), F.col("__hi")
    linear = F.least(F.floor((vd - lo) / (hi - lo) * buckets), F.lit(buckets - 1))
    bk = bk.when(F.isnan(vd), F.lit(buckets)).when(hi > lo, linear).otherwise(F.lit(0))
    return (
        rows.crossJoin(F.broadcast(rng))
        .withColumn("__bk", bk.cast("int"))
        .drop("__lo", "__hi")
    )


def _offsets_join(
    hb: DataFrame,
    group_cols: list[str],
    weights: list[Column],
    local: list[Column],
    *,
    descending: bool = False,
) -> DataFrame:
    """The walk's phase 2 over bucketed rows ``hb``: aggregate each
    ``weights[i]`` per (group, bucket), take its exclusive running sum
    over the group's buckets (ascending, or from the top bucket down) and
    its group total, and join them back to ``hb`` plus its within-bucket
    window columns ``local`` on (group eq-null-safe, bucket) — a NULL
    group is a real partition (the raw-window semantics), and
    eq-null-safe keys stay hash-joinable. Ungrouped, the offsets side
    holds at most ``buckets + 2`` rows and is broadcast.

    Appends ``__tot{i}`` (the group total) and ``__pre{i}`` (the bucket
    offset plus ``local[i]``) to ``hb``'s columns. A decimal offset and
    local value are narrowed to precision 37 before the addition:
    (38,s)+(38,s) would cap at 38 digits by dropping a scale digit —
    rounding the sum — so values must fit the remaining 37-s integer
    digits.
    """
    n = range(len(weights))
    per_bucket = hb.groupBy(*group_cols, "__bk").agg(
        *[w.alias(f"__bs{i}") for i, w in zip(n, weights)]
    )
    bk = F.col("__bk").desc() if descending else F.col("__bk")
    group = Window.partitionBy(*group_cols)
    before = group.orderBy(bk).rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        *[F.col(c).alias(f"__og{j}") for j, c in enumerate(group_cols)],
        F.col("__bk").alias("__obk"),
        *[
            F.coalesce(F.sum(f"__bs{i}").over(before), F.lit(0)).alias(f"__off{i}")
            for i in n
        ],
        *[F.sum(f"__bs{i}").over(group).alias(f"__tot{i}") for i in n],
    )
    rows = hb.select("*", *[c.alias(f"__lc{i}") for i, c in zip(n, local)])
    cond = F.col("__bk") == F.col("__obk")
    for j, c in enumerate(group_cols):
        cond = cond & rows[c].eqNullSafe(F.col(f"__og{j}"))
    out = rows.join(offsets if group_cols else F.broadcast(offsets), cond)
    for i in n:
        off, lc = F.col(f"__off{i}"), F.col(f"__lc{i}")
        dt = per_bucket.schema[f"__bs{i}"].dataType
        if isinstance(dt, DecimalType):
            narrowed = DecimalType(37, dt.scale)
            off, lc = off.cast(narrowed), lc.cast(narrowed)
        out = out.withColumn(f"__pre{i}", off + lc)
    internal = ["__obk", *[f"__og{j}" for j in range(len(group_cols))]]
    return out.drop(*internal, *[f"__off{i}" for i in n], *[f"__lc{i}" for i in n])


def _prefix_pass(
    hb: DataFrame, group_cols: list[str], value_col: str, sum_cols: list[str]
) -> DataFrame:
    """:func:`_offsets_join` with exclusive within-bucket running sums of
    ``sum_cols`` by ascending ``value_col`` — the prefix-sum case, named
    like :func:`window_prefix_sums`' output (``__tot_<c>``, ``__pre_<c>``)."""
    w = Window.partitionBy(*group_cols, "__bk").orderBy(value_col)
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    return _offsets_join(
        hb,
        group_cols,
        [F.sum(c) for c in sum_cols],
        [F.coalesce(F.sum(c).over(before), F.lit(0)) for c in sum_cols],
    ).withColumnsRenamed(
        {
            **{f"__tot{i}": f"__tot_{c}" for i, c in enumerate(sum_cols)},
            **{f"__pre{i}": f"__pre_{c}" for i, c in enumerate(sum_cols)},
        }
    )


def bucketed_group_value_ranks(
    base: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    buckets: int = 1024,
    freq_col: str | None = None,
) -> DataFrame:
    """Exact within-group competition (min-)ranks of each DISTINCT value,
    never sorting a whole group on one partition.

    ``base`` must already be filtered to rankable rows (the caller
    decides whether NaN participates; NULL values must be excluded).
    With ``freq_col``, ``base`` is a PRE-AGGREGATED histogram — each row
    stands for ``freq_col`` occurrences of its value (callers that
    already paid a groupBy, e.g. a joint two-column histogram, skip the
    second data-sized shuffle; min/max are weight-blind so the bucket
    map is unchanged). Returns ``(*group_cols, __v, __f, __rg, __ng)``
    — one row per distinct (group, value): its frequency, its
    competition rank (1 + count of strictly smaller values in the group
    — ties share a rank, exactly ``rank()`` over the raw rows), and the
    group's rankable-row count. Join it back to the fact rows on
    (group eq-null-safe, value ==) to attach ranks.

    Plan shape: one map-side-combined groupBy(group, value) histogram
    shuffle (the only data-sized stage), then a prefix pass of ``__f``
    over that histogram (the rank is its exclusive prefix + 1, the group
    count its total) in the shape :func:`bucketed_prefix_sums` would
    choose: plain windows for a summary-sized histogram, else the
    bucketed walk. For a non-numeric value type the bucket map
    degenerates to one bucket — still a histogram-sized
    (distinct-values-per-group) sort, never a raw-row sort.
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    if not group_cols:
        raise ValueError("bucketed_group_value_ranks needs group columns")
    gcols = list(group_cols)
    v = F.col(value_col)
    freq = F.count(F.lit(1)) if freq_col is None else F.sum(freq_col)
    hist = base.groupBy(*gcols, v.alias("__v")).agg(freq.alias("__f"))
    if _adaptive.summary_sized(hist):
        ps = window_prefix_sums(hist, gcols, "__v", ["__f"])
    else:
        # r14: the histogram subtree fans out to 3 consumers (range frame,
        # per-bucket offsets, within-bucket window) whose divergent column
        # pruning defeats exchange reuse — each consumer re-executes the
        # data-sized groupBy from the scan. reuse_frame cuts that to one
        # execution above the input-size threshold.
        hist, cut = _adaptive.reuse_frame_cut(hist)
        # r14: when the histogram was materialized, the range frame derives
        # from it (min/max over the DISTINCT values equals min/max over the
        # raw rows — bucket maps are rank-invariant anyway) so the raw-row
        # subtree is executed ZERO extra times. When it was not, keep the
        # direct min/max over `base` — a map-side aggregate, cheaper than
        # re-running the histogram exchange.
        src = None if cut else base.select(v.alias("__v"))
        ps = _prefix_pass(_bucket_map(hist, "__v", buckets, src), gcols, "__v", ["__f"])
    return ps.select(
        *gcols,
        "__v",
        "__f",
        (F.col("__pre___f") + F.lit(1)).cast("long").alias("__rg"),
        F.col("__tot___f").cast("long").alias("__ng"),
    )


def bucketed_prefix_sums(
    hist: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    sum_cols: Sequence[str],
    *,
    buckets: int = 1024,
    bucket_col: str | None = None,
    keep_bucket: str | None = None,
) -> DataFrame:
    """Exclusive per-group running sums of ``sum_cols`` by ascending
    ``value_col`` over a HISTOGRAM frame, plus group totals — the
    cumulative-distribution substrate for AUC / Mann–Whitney / KS /
    winsorize-style statistics, computed with the module's range-bucket
    walk so no group is ever walked on one partition.

    ``hist`` must hold at most ONE row per (group, value) — the output
    of a ``groupBy(group, value)`` — with no NULL values (NaN is fine:
    it buckets last, Spark's ascending order). ``group_cols`` may be
    empty for a global running sum (the offsets window then runs over a
    single ≤buckets-row summary partition — metadata-sized by
    construction — and is broadcast to the join). Appends, for each
    ``c`` in ``sum_cols``, ``__tot_<c>`` (the group total) and
    ``__pre_<c>`` (sum of ``c`` over STRICTLY SMALLER values in the
    group, 0 for the smallest); every input column passes through.
    Output types are Spark's natural sum types: long for an INTEGRAL
    ``sum_cols`` entry (the count-like default), and a fractional/decimal
    entry keeps its own (e.g. DECIMAL(38,9) masses stay exact decimals —
    never silently truncated to integers). Decimal sums must fit 28
    integer digits: the offset+local addition narrows its operands to
    precision 37 so the result keeps the input's full scale instead of
    Spark's precision-capped scale-8 downgrade.

    Plan shape, chosen here by ``_adaptive.summary_sized(hist)``: a
    summary-sized ``hist`` takes :func:`window_prefix_sums` (one exchange
    and sort, no lineage cut); any other takes the bucketed walk — one
    groups×buckets offsets aggregate with a per-group prefix window over
    ≤buckets rows, a within-bucket prefix window (parallelism
    groups×buckets), and a (group, bucket)-keyed equi-join of the summary
    frames — nothing data-sized beyond the histogram the caller already
    built. Both shapes give identical rows, so a caller never branches.

    CHAINED PASSES (r12): a second prefix pass over a FIRST pass's
    output — the kaplan_meier shape, where the second pass's sum
    columns depend on the first's prefixes — keys on the identical
    (group, value) frame, so recomputing the bucket map (a min/max
    aggregate over the frame plus a broadcast cross join, one extra
    branch fanning out of the input) is pure waste. Pass
    ``keep_bucket="__kb"`` on pass 1 to retain the internal bucket id
    under that name, and ``bucket_col="__kb"`` on pass 2 to reuse it:
    pass 2 then skips the range-frame branch entirely, and — because
    its groupBy / within-bucket window hash on the same (group, bucket)
    keys pass 1's output is already partitioned AND sorted by — adds no
    data-sized exchange or sort. ``bucket_col`` values must be a prior
    pass's ids over the SAME value column (any monotone-in-value int
    works; exactness never depends on bucket balance). A chained pass
    follows its first pass's shape without checking the gate again: on
    the window shape ``keep_bucket`` adds no column, and a pass whose
    ``bucket_col`` is absent from ``hist`` takes the window shape too.
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    if not sum_cols:
        raise ValueError("bucketed_prefix_sums needs sum columns")
    gcols = list(group_cols)
    scols = list(sum_cols)
    if bucket_col is None:
        window = _adaptive.summary_sized(hist)
    else:  # a chained pass: bucketed only if its first pass kept bucket ids
        window = bucket_col not in hist.columns
    if window:
        return window_prefix_sums(hist, gcols, value_col, scols)
    # r14: the caller's histogram fans out to 3 consumers here (range
    # frame, per-bucket offsets, within-bucket prefix window) with
    # divergent pruning — no exchange reuse, so each consumer re-runs
    # the caller's whole upstream. Scale-adaptive single execution
    # (operators._adaptive.reuse_frame). A chained second pass
    # (bucket_col=...) keeps its no-new-exchange property: the cut
    # preserves partitioning/ordering metadata.
    hist = _adaptive.reuse_frame(hist)
    if bucket_col is None:
        hb = _bucket_map(hist, value_col, buckets)
    else:
        # bucket_col is the one EXTERNALLY-supplied bucket id (the bucket
        # map never yields NULL). The offsets equi-join on __bk is
        # null-unsafe, so a NULL id would silently DROP those histogram
        # rows — fail loudly instead.
        bk = F.col(bucket_col)
        hb = hist.withColumn(
            "__bk",
            F.when(bk.isNotNull(), bk.cast("int")).otherwise(
                F.raise_error(
                    F.lit(
                        f"bucketed_prefix_sums: NULL bucket id in bucket_col "
                        f"{bucket_col!r} (ids must be a prior pass's non-NULL "
                        f"keep_bucket output)"
                    )
                )
            ),
        )
    out = _prefix_pass(hb, gcols, value_col, scols)
    if keep_bucket is None:
        return out.drop("__bk")
    return out.withColumnRenamed("__bk", keep_bucket)


def window_prefix_sums(
    hist: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    sum_cols: Sequence[str],
) -> DataFrame:
    """:func:`bucketed_prefix_sums`' output contract (``__tot_<c>`` then
    ``__pre_<c>`` appended, in Spark's natural sum types) from plain
    ``Window.partitionBy(*group_cols).orderBy(value_col)`` frames: one
    exchange, one sort and one Window node, no bucket map, no join.

    Each group's whole histogram sorts on one partition (ungrouped: the
    whole histogram), so the prefix walks take this shape only for a
    SUMMARY-sized input (``_adaptive.summary_sized``) and the bucketed
    walk otherwise. Both frames share the one ordered spec: an exclusive
    ``rowsBetween(unboundedPreceding, -1)`` running sum, and the total
    over ``rowsBetween(unboundedPreceding, unboundedFollowing)``, which
    Spark evaluates once per partition. Never a ``currentRow →
    unboundedFollowing`` suffix frame, which Spark evaluates row by row
    over the rest of the partition (O(n²)). Integral and DECIMAL sums are
    order-independent, so both shapes give identical rows on the same
    ``hist`` contract (one row per (group, value), no NULL values)."""
    if not sum_cols:
        raise ValueError("window_prefix_sums needs sum columns")
    scols = list(sum_cols)
    ordered = Window.partitionBy(*group_cols).orderBy(value_col)
    whole = ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    before = ordered.rowsBetween(Window.unboundedPreceding, -1)
    return hist.select(
        "*",
        *[F.sum(c).over(whole).alias(f"__tot_{c}") for c in scols],
        *[
            F.coalesce(F.sum(c).over(before), F.lit(0)).alias(f"__pre_{c}")
            for c in scols
        ],
    )


def _row_numbers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    tiebreak_cols: Sequence[str],
    descending: bool,
    buckets: int,
    out_col: str,
    count_col: str | None,
) -> DataFrame:
    """The row-number case of the walk: a within-(group, bucket)
    ``row_number`` plus the bucket's row-count offset, and the group's
    row count as ``count_col`` — free from the same offsets frame."""
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    v = F.col(value_col)
    order = v.desc_nulls_last() if descending else v.asc_nulls_first()
    w = Window.partitionBy(*group_cols, "__bk").orderBy(order, *tiebreak_cols)
    out = _offsets_join(
        _bucket_map(df, value_col, buckets),
        group_cols,
        [F.count(F.lit(1))],
        [F.row_number().over(w)],
        descending=descending,
    )
    if count_col is not None:
        out = out.withColumn(count_col, F.col("__tot0").cast("long"))
    return out.withColumn(out_col, F.col("__pre0").cast("long")).drop(
        "__bk", "__tot0", "__pre0"
    )


def bucketed_row_numbers(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: Sequence[str],
    *,
    descending: bool = False,
    buckets: int = 1024,
    out_col: str = "__rn",
    count_col: str | None = None,
) -> DataFrame:
    """Exact GLOBAL row_number by (value, *tiebreaks) without a global
    single-partition window sort.

    Equivalent to ``row_number().over(Window.orderBy(value[.desc()],
    *tiebreaks))`` — Spark default null ordering (asc → nulls first,
    desc → nulls last; NaN above every number) — but computed as
    range-bucket offsets + within-bucket local row_numbers, so the sort
    parallelism is ``buckets`` instead of 1: the zero-group case of
    :func:`bucketed_group_row_numbers`. The tiebreak columns must make
    the order total if downstream logic needs determinism (the
    ntile/top-k convention).

    ``count_col`` (optional) additionally appends the TOTAL row count —
    free from the same ≤buckets-row offsets frame (a summary window, no
    second scan of ``df``; the ntile-from-rank callers need exactly
    this pair).

    Returns ``df`` with ``out_col`` (long, 1-based) appended.
    """
    return _row_numbers(
        df, [], value_col, tiebreak_cols, descending, buckets, out_col, count_col
    )


def bucketed_group_row_numbers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    tiebreak_cols: Sequence[str],
    *,
    buckets: int = 1024,
    out_col: str = "__rn",
    count_col: str | None = None,
) -> DataFrame:
    """Exact PER-GROUP row_number by (value asc, *tiebreaks) without
    colocating each group's whole row set on one partition.

    Equivalent to ``row_number().over(Window.partitionBy(*groups)
    .orderBy(value, *tiebreaks))`` — Spark default ascending null
    ordering (nulls first, NaN above every number) — but computed as
    per-(group, range-bucket) local row_numbers plus per-group bucket
    offsets, so the sort parallelism is groups×buckets instead of
    groups: the stratified-split/kfold/curriculum substrate (few huge
    strata are exactly where the naive window parks a corpus on a
    handful of cores). The tiebreak columns must make the order total
    within each group if downstream logic needs determinism. For a
    non-numeric value column the bucket map degenerates to one bucket
    (plus the NULL bucket) — the naive colocation, no worse.

    ``count_col`` (optional) additionally appends the group's total row
    count — free from the same offsets frame, and NOT another
    group-colocating window.

    Returns ``df`` with ``out_col`` (long, 1-based) appended.
    """
    if not group_cols:
        raise ValueError("bucketed_group_row_numbers needs group columns")
    gcols = list(group_cols)
    return _row_numbers(
        df, gcols, value_col, tiebreak_cols, False, buckets, out_col, count_col
    )


def ntile_from_rank(rank_col: str, n_col: str, tiles: int) -> Column:
    """The tile ``ntile(tiles)`` assigns to the 1-based rank in column
    ``rank_col`` within a totally ordered frame of ``n_col`` rows — both
    engines' floor distribution (the first ``n % tiles`` tiles get one
    extra row) as a pure integer projection, so ntile needs only a
    distributed row_number, not a global single-partition window.

    Named columns (not Column objects) because the arithmetic must be
    int64 ``div`` — Column ``/`` is double division, which loses
    exactness past 2^53. Everything here is exact: positive operands
    make truncating ``div`` equal floor, and ceil(a/b) is
    ``(a + b - 1) div b``. The else-branch denominator is guarded with
    greatest(.., 1): when n < tiles the branch is unreachable row-wise,
    but ANSI mode must never see a raw /0.
    """
    if tiles < 1:
        raise ValueError(f"tiles must be >= 1, got {tiles}")
    size_big = f"(({n_col} div {tiles}) + 1)"
    rem = f"({n_col} % {tiles})"
    big_span = f"({rem} * {size_big})"
    small = f"greatest({size_big} - 1, 1)"
    return F.expr(
        f"CASE WHEN {rank_col} <= {big_span} "
        f"THEN ({rank_col} + {size_big} - 1) div {size_big} "
        f"ELSE {rem} + (({rank_col} - {big_span} + {small} - 1) div {small}) "
        f"END"
    ).cast("long")
