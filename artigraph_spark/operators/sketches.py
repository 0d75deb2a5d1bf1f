"""Sketch operators for streaming-scale summaries: count-min (frequency),
Bloom (membership / join pruning), fixed-bin histogram (quantiles), and
HyperLogLog (distinct count).

Shared design rules:

- **Bounded summaries.** Every sketch is a small table (depth×width cells,
  ≤num_bits positions, ≤bins+1 buckets, ≤m registers) produced by ONE
  data-sized groupBy with map-side partial aggregation; everything after
  runs on the summary. All four merge across partitions/snapshots with
  plain relational ops (sum / union+distinct / sum / max).
- **One-sided or bounded error, contract-locked.** CMS never undercounts,
  Bloom never false-negatives, the histogram estimate always covers its
  target rank, HLL lands within its standard-error envelope — each
  guarantee is asserted per-row by an oracle-checked `*_contract` query.
- **Engine-replayable determinism.** Hashing is exact integer arithmetic
  (universal hashes over the Mersenne prime shared with the MinHash
  family; HLL adds shift-XOR avalanche rounds because a plain affine hash
  measurably biases rank statistics). The DuckDB oracles replay the
  *estimates themselves*, not just the contracts. Keys fold below 2^31 so
  every product stays in int64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from artigraph_spark.operators.dedup import _P, _hash_coeffs


def _fold(key_col: str):
    """Fold an integral key below 2^31 so a·k + b stays within int64."""
    return F.pmod(F.col(key_col).cast("long"), F.lit((1 << 31) - 1))


def _cells(key_col: str, n: int, modulo: int, seed: int) -> list:
    """The shared universal-hash cell positions ((a·k + b) mod p) mod m for
    each of the ``n`` seeded hash rows. Build and probe sides of every
    sketch MUST use this one definition — a drifted copy silently breaks
    estimates."""
    k = _fold(key_col)
    return [
        (F.lit(a) * k + F.lit(b)) % F.lit(_P) % F.lit(modulo)
        for a, b in _hash_coeffs(n, seed)
    ]


def _cell_rows(key_col: str, depth: int, width: int, seed: int):
    """The (depth_id, bucket) struct array shared by every CMS build AND
    probe site — ONE definition of the pairing, because a build whose cell
    enumeration drifts from its probe silently corrupts every estimate
    (the hazard the _cells comment calls out)."""
    return F.array(
        *[
            F.struct(F.lit(d).alias("depth_id"), cell.alias("bucket"))
            for d, cell in enumerate(_cells(key_col, depth, width, seed))
        ]
    )


def _drop_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """``df`` without the rows where any of ``cols`` is NULL."""
    for c in cols:
        df = df.filter(F.col(c).isNotNull())
    return df


def count_min_sketch(
    df: DataFrame,
    key_col: str,
    width: int = 256,
    depth: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Build a count-min sketch over an integral key column.

    Returns the sketch as a (depth_id, bucket, cnt) table — ``depth×width``
    rows max, safely broadcast-sized for any realistic (width, depth).
    It is :func:`grouped_count_min_sketch` with no group column.
    """
    return _cms_build(df, [], key_col, width, depth, seed, None)


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 256,
    depth: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Estimate each key's frequency from a sketch built with the same
    (width, depth, seed). Joins the broadcast sketch per depth row and takes
    the min cell — ``estimate`` is always >= the true count; a cell no
    stream row reached counts 0. It is :func:`grouped_cms_estimate` with
    no group column.
    """
    return _cms_probe(
        sketch, keys, [], key_col, width, depth, seed, broadcast_sketch=True
    )


# Bloom bit positions are always in [0, num_bits), so the negative half of
# the `bit` column is free: one sentinel row per filter stamps
# (num_bits, num_hashes, seed) into the state itself, and every probe
# validates the stamp against the parameters it was called with. Without
# this, a persisted bits table built under one default (e.g. the pre-r8
# 1<<16) probed under another (1<<20) computes positions mod a different
# modulus and SILENTLY returns wrong membership — dupes admitted — instead
# of erroring. Packing: sentinel = -(num_bits·2^28 + seed·2^8 + num_hashes) - 1.
_BLOOM_STAMP_MAX_BITS = 1 << 34
_BLOOM_STAMP_MAX_SEED = 1 << 20
_BLOOM_STAMP_MAX_HASHES = 1 << 8


def _bloom_stamp_value(num_bits: int, num_hashes: int, seed: int) -> int:
    if not (0 < num_bits <= _BLOOM_STAMP_MAX_BITS):
        raise ValueError(f"stampable num_bits must be in (0, 2^34], got {num_bits}")
    if not (0 < num_hashes < _BLOOM_STAMP_MAX_HASHES):
        raise ValueError(f"stampable num_hashes must be in (0, 256), got {num_hashes}")
    if not (0 <= seed < _BLOOM_STAMP_MAX_SEED):
        raise ValueError(f"stampable seed must be in [0, 2^20), got {seed}")
    return -(num_bits * (1 << 28) + seed * (1 << 8) + num_hashes) - 1


def bloom_stamp_decode(sentinel: int) -> tuple[int, int, int]:
    """Inverse of the stamp packing: ``(num_bits, num_hashes, seed)``."""
    packed = -sentinel - 1
    return packed >> 28, packed & 0xFF, (packed >> 8) & 0xFFFFF


def bloom_build(
    df: DataFrame,
    key_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Build a Bloom filter over an integral key column, represented sparsely
    as the DISTINCT set bit positions (≤ num_bits rows, typically far fewer
    — broadcastable, and trivially mergeable across partitions/snapshots by
    union+distinct) plus ONE negative sentinel row stamping
    (num_bits, num_hashes, seed) into the state, validated by every probe
    (see :func:`bloom_passing_keys`). Merging two filters built with the
    same parameters keeps a single sentinel (distinct); merging mismatched
    filters keeps both and the next probe fails loudly instead of silently
    admitting duplicates.

    Same deterministic universal-hash machinery as the count-min sketch, so
    the filter is engine-replayable. One shuffle (the distinct over bit
    positions); map-side partial distinct does most of the work.
    """
    if num_bits <= 0 or num_hashes <= 0:
        raise ValueError(
            f"num_bits and num_hashes must be positive, got {num_bits}/{num_hashes}"
        )
    positions = F.array(*_cells(key_col, num_hashes, num_bits, seed))
    bits = df.select(F.explode(positions).alias("bit")).distinct()
    stampable = (
        0 < num_bits <= _BLOOM_STAMP_MAX_BITS
        and 0 < num_hashes < _BLOOM_STAMP_MAX_HASHES
        and 0 <= seed < _BLOOM_STAMP_MAX_SEED
    )
    if not stampable:
        # Parameters outside the sentinel packing's range were valid
        # before stamping existed — keep them valid: build a legacy-style
        # unstamped state (probes accept it, with parameters unknowable)
        # instead of hard-failing at build time. The probe side already
        # treats the same range gracefully (expected=None).
        import warnings

        warnings.warn(
            f"bloom_build parameters (num_bits={num_bits}, "
            f"num_hashes={num_hashes}, seed={seed}) fall outside the "
            "stampable range — building an UNSTAMPED filter; probes "
            "cannot validate its parameters, so a mismatched probe will "
            "be silently wrong. Prefer seed in [0, 2^20), num_bits <= "
            "2^34, num_hashes < 256.",
            stacklevel=2,
        )
        return bits
    stamp = _bloom_stamp_value(num_bits, num_hashes, seed)
    spark = df.sparkSession
    sentinel = spark.createDataFrame([(stamp,)], "bit: bigint")
    return bits.unionByName(sentinel)


def bloom_passing_keys(
    df: DataFrame,
    key_col: str,
    bits: DataFrame,
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Distinct values of ``key_col`` whose EVERY bit position is set in
    the (broadcast) filter — the shared membership predicate behind both
    :func:`bloom_prefilter` (semi-join the passers) and
    ``dedup.bloom_dedup_against`` (anti-join them). One definition so the
    probe arithmetic can never drift between the two.

    Probing validates the filter's stamped parameters (the negative
    sentinel row :func:`bloom_build` embeds) against the arguments of THIS
    call, lazily inside the plan — a mismatch (state persisted under
    different num_bits/num_hashes/seed, or two incompatible filters
    unioned) raises at execution instead of silently computing positions
    mod the wrong modulus. Legacy unstamped states (no negative row) are
    accepted as-is: their parameters are unknowable, which is exactly why
    new states carry the stamp."""
    if num_bits <= 0 or num_hashes <= 0:
        raise ValueError(
            f"num_bits and num_hashes must be positive, got {num_bits}/{num_hashes}"
        )
    expected = (
        _bloom_stamp_value(num_bits, num_hashes, seed)
        if (
            0 < num_bits <= _BLOOM_STAMP_MAX_BITS
            and 0 < num_hashes < _BLOOM_STAMP_MAX_HASHES
            and 0 <= seed < _BLOOM_STAMP_MAX_SEED
        )
        else None
    )
    clean = bits.select("bit").distinct()
    # Lazy broadcast-singleton guard (no eager collect — the operator
    # stays a pure plan): aggregate the ≤few sentinel rows to one row and
    # raise_error under the mismatch conditions. The aggregate input is
    # the already-broadcast-small bit set filtered to negatives.
    stamps = clean.filter(F.col("bit") < 0).agg(
        F.count(F.lit(1)).alias("__n_stamps"),
        F.max("bit").alias("__stamp"),
    )
    ok = F.when(F.col("__n_stamps") == 0, F.lit(1)).when(
        F.col("__n_stamps") > 1,
        F.raise_error(
            F.concat(
                F.lit("bloom state carries "),
                F.col("__n_stamps").cast("string"),
                F.lit(
                    " parameter stamps — filters built with different"
                    " (num_bits, num_hashes, seed) were merged; rebuild"
                    " or compact the state under one parameter set"
                ),
            )
        ),
    )
    if expected is not None:
        ok = ok.when(F.col("__stamp") == F.lit(expected), F.lit(1))
    gate = stamps.select(
        ok.otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "bloom state stamp mismatch: state built with"
                        " (num_bits, num_hashes, seed) != probe's"
                        f" ({num_bits}, {num_hashes}, {seed});"
                        " stamped sentinel = "
                    ),
                    F.col("__stamp").cast("string"),
                )
            )
        ).alias("__bloom_ok")
    )
    positions = F.array(*_cells(key_col, num_hashes, num_bits, seed))
    probes = (
        df.select(key_col).distinct()
        .crossJoin(F.broadcast(gate))
        # The filter REFERENCES __bloom_ok so column pruning cannot drop
        # the raise_error expression (an unreferenced join column would
        # be pruned and the guard silently skipped). Always true when
        # the stamp validates, so it never changes the result.
        .filter(F.col("__bloom_ok") == 1)
        .select(F.col(key_col), F.explode(positions).alias("bit"))
    )
    return (
        # distinct() defends against duplicated bit rows (e.g. a caller
        # unioning two filters without dedup): a duplicate match would
        # push a TRUE member's hit count past num_hashes and the == test
        # would reject it — a false negative, the one failure mode a
        # Bloom filter must never have. The sentinel row is stripped
        # before the join (bit >= 0) so a stamp can never count as a hit.
        probes.join(
            F.broadcast(
                clean.filter(F.col("bit") >= 0).withColumn("__hit", F.lit(1))
            ),
            "bit",
            "left",
        )
        .groupBy(key_col)
        .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__hits"))
        .filter(F.col("__hits") == num_hashes)
        .select(key_col)
    )


def bloom_prefilter(
    df: DataFrame,
    key_col: str,
    bits: DataFrame,
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Pre-filter a (large) table to rows whose key MIGHT be in the set the
    Bloom filter was built over — the runtime-filter pattern that prunes a
    fact table BEFORE its shuffle join against a selective dimension.
    False positives pass (and are eliminated by the real join later);
    false negatives cannot happen, which `bloom_prefilter_contract` locks.

    Probing is key-level: distinct keys explode to their ``num_hashes`` bit
    positions, join the broadcast bit set, and a key passes iff ALL its
    positions are present; the input then left-semi joins the passing keys.
    The big table is never exploded — only its distinct-key projection.
    """
    passing = bloom_passing_keys(df, key_col, bits, num_bits, num_hashes, seed)
    # NO broadcast hint on `passing`: its size is members + false positives
    # over the fact's distinct keys — unbounded when the filter saturates.
    # AQE broadcasts it when it is actually small.
    return df.join(passing, key_col, "left_semi")


def _check_histogram_args(lo: float, hi: float, bins: int, quantiles: list[float]) -> None:
    if bins <= 0:
        raise ValueError(f"bins must be positive, got {bins}")
    if not quantiles or any(q <= 0 or q > 1 for q in quantiles):
        raise ValueError(f"quantiles must be in (0, 1], got {quantiles}")
    if hi <= lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")


def _bin_index(x, lo: float, hi: float, bins: int):
    """Histogram bin for a value: clamp in double space BEFORE the int cast
    (never overflows under ANSI); values at/above hi go to the overflow
    bin ``bins``."""
    width = (hi - lo) / bins
    return F.when(x >= F.lit(hi), F.lit(bins)).otherwise(
        F.least(
            F.lit(float(bins - 1)),
            F.greatest(F.lit(0.0), F.floor((x - F.lit(lo)) / F.lit(width))),
        ).cast("int")
    )


def histogram_quantiles(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    bins: int,
    quantiles: list[float],
) -> DataFrame:
    """Mergeable fixed-bin quantile sketch: a histogram of ``bins`` equal
    cells over [lo, hi) is the summary; the q-quantile estimate is the upper
    edge of the first bin whose cumulative count reaches ceil(q·n). The
    guarantee is rank coverage — at least ceil(q·n) values are ≤ the
    estimate — with error bounded by one bin width while the data stays in
    range. NULLs and NaNs are excluded (from both the histogram and n); values below
    ``lo`` count into bin 0 (they can only push estimates up — coverage
    still holds); values at/above ``hi`` go to a dedicated overflow bin
    whose "upper edge" is +Infinity, so a quantile that lands there reports
    an honest unbounded estimate instead of silently violating coverage.

    Deterministic throughout: the bin index clamps in double space BEFORE
    the int cast (no ANSI overflow on extreme values), counts are exact,
    and the cumulative walk happens over the ≤``bins``+1-row histogram (a
    broadcastable summary, mergeable across partitions/snapshots by adding
    counts). One data-sized shuffle — the groupBy(bin) partial/final count;
    everything after runs on the bounded summary. Rank = ceil of the IEEE
    double product q·n; an oracle replaying this must also multiply in
    double (not decimal). It is :func:`grouped_histogram_quantiles` with
    no group column.
    """
    return _histogram_quantiles(df, [], col, lo, hi, bins, quantiles)


_HLL_MAX_RHO = 32  # rank source is a 31-bit mixed value; w=0 caps here
_P31 = (1 << 31) - 1


def _mix31(x, seed: int):
    """Avalanche mixer on a 31-bit value: three multiply-mod-(2^31−1) rounds
    interleaved with shift-XOR folds — the murmur-finalizer structure built
    ONLY from ops that are exact integers on any engine (products < 2^62,
    XOR, floor division). A plain affine universal hash is NOT enough here:
    over near-sequential keys its output is an arithmetic progression, whose
    trailing-zero ranks and low-bit register indexes are badly biased
    (measured: 25% of registers never hit, +22% estimate error); the
    shift-XOR rounds break the progression (measured: full register
    coverage, −2.2% error at n/m ≈ 14)."""
    for i, (a, b) in enumerate(_hash_coeffs(3, seed)):
        x = (F.lit(a) * x + F.lit(b)) % F.lit(_P31)
        if i < 2:
            x = x.bitwiseXOR(F.floor(x / F.lit(1 << (15 - 2 * i))).cast("long"))
    return x


def _hll_rho(w):
    """Rank of a register value: 1 + trailing zeros of the 31-bit ``w`` (the
    easy-to-replicate mirror of HLL's leading-zero rank — any fixed bit
    orientation works as long as build and oracle agree). Pure modulo
    arithmetic — no log2/bit intrinsics, whose float rounding differs
    between engines. w == 0 caps at the maximum rank."""
    expr = F.lit(_HLL_MAX_RHO)
    # build the chain from the deepest test outward: w%2==1 → 1 wins first
    for t in range(_HLL_MAX_RHO - 2, -1, -1):
        expr = F.when(
            w % F.lit(1 << (t + 1)) == F.lit(1 << t), F.lit(t + 1)
        ).otherwise(expr)
    return F.when(w == 0, F.lit(_HLL_MAX_RHO)).otherwise(expr)


def hll_sketch(
    df: DataFrame,
    key_col: str,
    m: int = 1024,
    seed: int = 11,
) -> DataFrame:
    """HyperLogLog register table over an integral key column: ``m``
    registers, each holding the max rank seen — a ≤m-row mergeable summary
    (merge = groupBy(register).max) of a stream's distinct-count.

    Two independently-seeded `_mix31` values per key: one supplies the
    register index, the other the rank bits (31 rank bits support
    n/m up to ~2^31 — trillions of distinct keys at m=1024). Everything is
    engine-replayable, so the oracle recomputes the registers AND the
    estimate bit-for-bit. One shuffle: the groupBy(register) max, with
    map-side partial max doing nearly all the work. It is
    :func:`grouped_hll_sketch` with no group column.
    """
    return _hll_registers(df, [], key_col, m, seed)


def _check_hll_m(m: int) -> None:
    if m <= 0 or m & (m - 1):
        raise ValueError(f"m must be a positive power of two, got {m}")


def hll_estimate(sketch: DataFrame, m: int = 1024) -> DataFrame:
    """Raw HLL estimate from a register table: α_m·m² / Σ 2^−rho (empty
    registers contribute 2^0). The harmonic sum is computed as an EXACT
    integer (per-row 2^(32−rho) cast to long BEFORE summing — double
    partial sums above 2^53 would round order-dependently; the total is
    ≤ m·2^32 < 2^63), so the final double division is a single
    correctly-rounded op on identical inputs — engine-exact. No
    small-range linear-counting branch (it needs ln(), whose last-ulp
    behavior differs across engines); raw-estimate bias at very low
    cardinality is the documented tradeoff. It is
    :func:`grouped_hll_estimate` with no group column, so an empty sketch
    still gives its one row: the all-empty estimate α·m.
    """
    return _hll_estimates(sketch, [], m, small_range_correction=False)


def grouped_histogram_quantiles(
    df: DataFrame,
    group_col: str,
    col: str,
    lo: float,
    hi: float,
    bins: int,
    quantiles: list[float],
) -> DataFrame:
    """Per-group quantile estimates from per-group fixed-bin histograms —
    the grouped form of `histogram_quantiles` (p95 latency per endpoint,
    p50 value per event type, …). Same semantics per group: NULL/NaN
    excluded, at/above-hi overflow bin reporting +Infinity, rank =
    ceil(IEEE q·n_group), estimate = upper edge of the first bin whose
    within-group cumulative count reaches it.

    Scale shape: ONE data-sized shuffle (groupBy(group, bin) with map-side
    partials); the cumulative walk is a window PARTITIONED BY group over
    ≤bins+1 rows per group, and the rank probe joins summary-sized frames
    keyed on the group. Returns (group_col, q, target_rank, estimate).
    """
    return _histogram_quantiles(df, [group_col], col, lo, hi, bins, quantiles)


def _histogram_quantiles(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    lo: float,
    hi: float,
    bins: int,
    quantiles: list[float],
) -> DataFrame:
    """The histogram build behind both public forms; ``group_cols=[]`` is
    the ungrouped sketch."""
    _check_histogram_args(lo, hi, bins, quantiles)
    x = F.col(col)
    # Spark orders NaN above every double (and NaN = NaN is true), so NaN
    # would land in the overflow bin, inflate n, yet never satisfy
    # x <= estimate — exclude it along with NULL. NULL-group rows would be
    # counted into the histogram but dropped by the NULL-rejecting
    # equi-join on the group key — exclude them up front so accepted data
    # always yields estimates.
    clean = _drop_null(df, group_cols).filter(
        x.isNotNull() & ~F.isnan(x.cast("double"))
    )
    hist = clean.groupBy(
        *group_cols, _bin_index(x, lo, hi, bins).alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return _quantile_walk(hist, group_cols, lo, hi, bins, quantiles)


def _quantile_walk(
    hist: DataFrame,
    group_cols: list[str],
    lo: float,
    hi: float,
    bins: int,
    quantiles: list[float],
) -> DataFrame:
    """The per-group rank walk over a ``(*group_cols, bin, cnt)`` histogram
    table — shared by the histogram sketches (histograms per group, or
    one with ``group_cols=[]``) and :func:`sliding_histogram_quantiles`
    (histograms per trailing window). Summary-sized: the cumulative window
    runs over ≤bins+1 rows per group."""
    from pyspark.sql import Window

    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy(*group_cols)
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    totals = hist.groupBy(*group_cols).agg(F.sum("cnt").alias("__n"))
    targets = totals.select(
        *group_cols,
        F.explode(F.array(*[F.lit(float(q)) for q in quantiles])).alias("q"),
        "__n",
    ).withColumn("target_rank", F.ceil(F.col("q") * F.col("__n")).cast("long"))
    # with no group key the walk is one ≤bins+1-row histogram: broadcast it
    # (``join(other, [])`` raises, so the zero-key join is a cross join)
    joined = (
        targets.join(cum, group_cols)
        if group_cols
        else targets.crossJoin(F.broadcast(cum))
    )
    # the upper edge of the covering bin; the overflow bin reports an
    # honest +Infinity
    b = F.col("__bin")
    estimate = F.when(b >= bins, F.lit(float("inf"))).otherwise(
        F.lit(lo) + (b + 1) * F.lit((hi - lo) / bins)
    )
    return (
        joined.filter(F.col("cum") >= F.col("target_rank"))
        .groupBy(*group_cols, "q", "target_rank")
        .agg(F.min("bin").alias("__bin"))
        .select(*group_cols, "q", "target_rank", estimate.alias("estimate"))
    )


def sliding_histogram_quantiles(
    df: DataFrame,
    bucket_col,
    col: str,
    *,
    window_buckets: int,
    lo: float,
    hi: float,
    bins: int,
    quantiles: list[float],
) -> DataFrame:
    """Trailing-window quantile estimates from mergeable per-bucket
    histograms — "p95 over the last 24 h, per hour" without rescanning
    24 h of data per answer. One data-sized pass bins every row into its
    time bucket; each bucket's bin counts are contributed to the
    ``window_buckets`` trailing windows containing it and merged by
    summing (histograms are the simplest mergeable sketch), then the
    shared rank walk answers every window. Per-answer work is
    O(window × bins); windows are anchored at observed buckets only.
    Same NULL/NaN exclusion and rank-coverage contract as
    :func:`grouped_histogram_quantiles`; returns
    ``(bucket, q, target_rank, estimate)``.
    """
    if window_buckets <= 0:
        raise ValueError(f"window_buckets must be positive, got {window_buckets}")
    _check_histogram_args(lo, hi, bins, quantiles)
    x = F.col(col)
    clean = df.select(
        bucket_col.cast("long").alias("__b"), x.alias("__x")
    ).filter(
        F.col("__b").isNotNull()
        & F.col("__x").isNotNull()
        & ~F.isnan(F.col("__x").cast("double"))
    )
    hist = clean.groupBy(
        "__b", _bin_index(F.col("__x"), lo, hi, bins).alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    targets = hist.select(
        F.explode(
            F.sequence(F.col("__b"), F.col("__b") + F.lit(window_buckets - 1))
        ).alias("bucket"),
        "bin",
        "cnt",
    )
    present = hist.select(F.col("__b").alias("bucket")).distinct()
    merged = (
        targets.join(present, "bucket", "left_semi")
        .groupBy("bucket", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return _quantile_walk(merged, ["bucket"], lo, hi, bins, quantiles)


def grouped_hll_sketch(
    df: DataFrame,
    group_col: str,
    key_col: str,
    m: int = 256,
    seed: int = 11,
) -> DataFrame:
    """Per-group HyperLogLog register tables: ``(group, register,
    max_rho)`` with ≤m rows per group — approximate distinct-count for
    every group in ONE pass over the data, the groupBy(count distinct)
    replacement when exactness can be traded for a bounded summary.

    Same two-seed mixer and rank chain as :func:`hll_sketch` (the hashes
    don't see the group, so a key's register/rank is group-independent
    and sketches merge across groups or snapshots via max). One shuffle
    keyed by (group, register) with map-side partial max.
    """
    return _hll_registers(df, [group_col], key_col, m, seed)


def _hll_registers(
    df: DataFrame, group_cols: list[str], key_col: str, m: int, seed: int
) -> DataFrame:
    """The HLL register build behind both public forms; ``group_cols=[]``
    is the ungrouped sketch. Rows with a NULL key or group are dropped."""
    _check_hll_m(m)
    k = _fold(key_col)
    reg = _mix31(k, seed) % F.lit(m)
    w = _mix31(k, seed + 12)
    return (
        _drop_null(df, [key_col, *group_cols])
        .select(*group_cols, reg.alias("register"), _hll_rho(w).alias("rho"))
        .groupBy(*group_cols, "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def grouped_hll_estimate(
    sketch: DataFrame,
    group_col: str,
    m: int = 256,
    *,
    small_range_correction: bool = False,
) -> DataFrame:
    """Per-group raw HLL estimates from a grouped register table —
    ``(group, estimate)``. Identical exact-integer harmonic sum as
    :func:`hll_estimate`, evaluated per group; groups absent from the
    sketch (no non-null keys) are absent from the output.

    ``small_range_correction=True`` applies the standard linear-counting
    branch (E ≤ 2.5m with empty registers → ``m·ln(m/empty)``): the raw
    estimator reads ≈0.72·m for cardinalities ≪ m, which makes
    low-cardinality profiles useless. The branch condition and the log
    are the published HLL constants; ``ln`` of an exact integer ratio is
    one correctly-rounded double op, so oracles replay it (same as the
    PMI family's log use). Off by default — the raw estimator is what
    the existing contract queries lock.
    """
    return _hll_estimates(sketch, [group_col], m, small_range_correction)


def _hll_estimates(
    sketch: DataFrame,
    group_cols: list[str],
    m: int,
    small_range_correction: bool,
) -> DataFrame:
    """The HLL estimator behind both public forms; ``group_cols=[]`` is a
    global aggregate, so it answers one row even for an empty sketch."""
    _check_hll_m(m)
    # the exact-integer harmonic sum Σ 2^(32−rho), each term cast to long
    # BEFORE summing (the oracles replay it bit-for-bit). SUM over an
    # empty register table is NULL — coalesce to 0 so an empty sketch
    # reports the defined all-empty estimate (α·m), not NULL.
    scaled = F.pow(F.lit(2.0), F.lit(_HLL_MAX_RHO) - F.col("max_rho")).cast("long")
    agg = sketch.groupBy(*group_cols).agg(
        F.coalesce(F.sum(scaled), F.lit(0)).alias("__present"),
        F.count(F.lit(1)).alias("__nreg"),
    )
    # α_m·m²·2^32 / (present + empty·2^32)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = (
        F.lit(alpha * m * m)
        * F.lit(float(1 << _HLL_MAX_RHO))
        / (F.col("__present") + (F.lit(m) - F.col("__nreg")) * F.lit(1 << _HLL_MAX_RHO))
    )
    if small_range_correction:
        empty = F.lit(m) - F.col("__nreg")
        lc = F.lit(float(m)) * F.log(F.lit(float(m)) / empty.cast("double"))
        raw = F.when((raw <= 2.5 * m) & (empty > 0), lc).otherwise(raw)
    return agg.select(*group_cols, raw.alias("estimate"))


def decay_weight(
    ts_col: str,
    ref_epoch: int,
    half_life_seconds: int,
    scale_bits: int = 40,
):
    """Fixed-point exponentially-decayed unit weight for a timestamped row:
    ``2^(scale_bits - age_steps)`` where ``age_steps = floor((ref - ts) /
    half_life)``, clamped to full weight for future rows and to 0 once the
    weight would underflow (age > scale_bits half-lives).

    Weights are exact dyadic integers, so SUM over them is associative and
    order-independent — cross-engine deterministic the same way the
    fixed-point double aggregates are (FIXTURES.md). The ``2^scale_bits``
    unit keeps every practical decayed total far below int64:
    10^9 rows x 2^40 < 2^70 would overflow, but any single sketch CELL
    holds only rows sharing ``floor(log2)`` weight bands — callers summing
    >2^23 rows per cell should drop scale_bits accordingly.

    All arithmetic stays in int64 (age < 2^31 s, steps <= scale_bits,
    ``pow(2, k)`` exact in double for k <= 52), so a DuckDB oracle replays
    it bit-for-bit: ``CAST(power(2, scale_bits - steps) AS BIGINT)`` with
    ``steps = GREATEST(CAST(floor((ref - floor(epoch(ts))) / hl) AS
    BIGINT), 0)``.
    """
    if half_life_seconds <= 0 or not (0 < scale_bits <= 52):
        raise ValueError(
            f"need half_life_seconds > 0 and 0 < scale_bits <= 52, "
            f"got {half_life_seconds}/{scale_bits}"
        )
    age = F.lit(int(ref_epoch)) - F.unix_timestamp(F.col(ts_col))
    # raw may be NULL (ts NULL) — keep it nullable so NULL-ts rows weigh
    # 0 instead of inheriting FULL weight via greatest's NULL-skipping
    raw = F.floor(age / F.lit(float(half_life_seconds))).cast("long")
    steps = F.greatest(raw, F.lit(0))  # clamp future rows to full weight
    return F.when(
        raw.isNull() | (steps > F.lit(scale_bits)), F.lit(0).cast("long")
    ).otherwise(
        F.pow(F.lit(2.0), (F.lit(scale_bits) - steps).cast("double")).cast("long")
    )


def grouped_count_min_sketch(
    df: DataFrame,
    group_col: str,
    key_col: str,
    width: int = 256,
    depth: int = 4,
    seed: int = 42,
    weight=None,
) -> DataFrame:
    """Per-group count-min sketches: ``(group, depth_id, bucket, cnt)``
    with ≤ depth×width rows per group — frequency estimation for every
    group of an unbounded stream in ONE data-sized shuffle (groupBy(group,
    depth_id, bucket) with map-side partial sums), the bounded-memory
    replacement for a full (group, key) count table.

    ``weight`` (optional Column, default: unit counts) generalises the
    sketch to weighted frequency — pass :func:`decay_weight` for the
    time-decayed "top-k per hour" shape: old rows contribute exponentially
    less, and because the weights are exact dyadic integers the decayed
    sketch keeps CMS's one-sided guarantee (estimates never undercount
    the true decayed sum) AND stays engine-replayable.

    The hashes don't see the group (same cell layout in every group), so
    per-group sketches merge across groups or snapshots by summing cells.
    """
    return _cms_build(df, [group_col], key_col, width, depth, seed, weight)


def _cms_build(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    width: int,
    depth: int,
    seed: int,
    weight,
) -> DataFrame:
    """The count-min build behind both public forms; ``group_cols=[]``
    is the ungrouped sketch. Rows with a NULL group key are dropped."""
    if width <= 0 or depth <= 0:
        raise ValueError(f"width and depth must be positive, got {width}x{depth}")
    rows = _cell_rows(key_col, depth, width, seed)
    w = F.lit(1).cast("long") if weight is None else weight.cast("long")
    return (
        _drop_null(df, group_cols)
        .select(*group_cols, F.explode(rows).alias("__cell"), w.alias("__w"))
        .groupBy(
            *group_cols,
            F.col("__cell.depth_id").alias("depth_id"),
            F.col("__cell.bucket").alias("bucket"),
        )
        .agg(F.sum("__w").alias("cnt"))
    )


def grouped_cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    group_col: str,
    key_col: str,
    width: int = 256,
    depth: int = 4,
    seed: int = 42,
    broadcast_sketch: bool = True,
) -> DataFrame:
    """Per-group frequency estimates from grouped sketches built with the
    same (width, depth, seed): ``(group, key, estimate)``, min over the
    depth cells, never below the true (possibly weighted) per-group count.

    ``keys`` supplies the (group, key) probe pairs — typically the
    distinct pairs of the stream itself, or a candidate list. The sketch
    side is ≤ n_groups×depth×width rows; broadcast it (default) while
    group cardinality is modest (event types, hours of a month). For
    high-cardinality groups (distinct users as groups) pass
    ``broadcast_sketch=False`` and let the shuffle join + AQE decide.
    """
    return _cms_probe(
        sketch, keys, [group_col], key_col, width, depth, seed, broadcast_sketch
    )


def _cms_probe(
    sketch: DataFrame,
    keys: DataFrame,
    group_cols: list[str],
    key_col: str,
    width: int,
    depth: int,
    seed: int,
    broadcast_sketch: bool,
) -> DataFrame:
    """The count-min probe behind both public forms; ``group_cols=[]``
    is the ungrouped estimate."""
    if width <= 0 or depth <= 0:
        raise ValueError(f"width and depth must be positive, got {width}x{depth}")
    probes = keys.select(
        *group_cols,
        F.col(key_col),
        F.explode(
            _cell_rows(key_col, depth, width, seed)
        ).alias("__cell"),
    ).select(
        *group_cols,
        key_col,
        F.col("__cell.depth_id").alias("depth_id"),
        F.col("__cell.bucket").alias("bucket"),
    )
    s = F.broadcast(sketch) if broadcast_sketch else sketch
    return (
        probes.join(s, [*group_cols, "depth_id", "bucket"], "left")
        .groupBy(*group_cols, key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("estimate"))
    )


def cms_inner_product(sk_a: DataFrame, sk_b: DataFrame) -> DataFrame:
    """Join-size estimation from two count-min sketches built with the
    same (width, depth, seed): the AMS/CMS inner-product estimator —
    per depth row, Σ_bucket cnt_a·cnt_b; the estimate is the MIN over
    depths. Never underestimates the true equi-join cardinality
    Σ_key n_a(key)·n_b(key) (every true pair lands in some shared cell;
    collisions only add), and collisions are deterministic universal-hash
    arithmetic, so an oracle replays the exact estimate.

    This is the optimizer's trick for sizing a shuffle join WITHOUT
    touching either table again: both sketches are depth×width summaries
    maintained at ingest (one data-sized pass each, or incrementally via
    ``streaming.sketch_state_sink``), and the estimate itself joins two
    summary-sized frames — O(depth·width), independent of data size.
    Returns a single row ``(join_size_est)``.
    """
    a = sk_a.select("depth_id", "bucket", F.col("cnt").alias("__ca"))
    b = sk_b.select("depth_id", "bucket", F.col("cnt").alias("__cb"))
    shared = (
        a.join(b, ["depth_id", "bucket"])
        .groupBy("depth_id")
        .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__est"))
    )
    # A depth row with NO shared buckets is a PROOF of disjointness — its
    # inner product is 0, and it must participate in the min (dropping it
    # would both overestimate and, with fully disjoint inputs, leave the
    # min over an empty frame NULL). Enumerate depths from sketch A and
    # left-join the shared sums; an empty sketch estimates 0 outright.
    depths = sk_a.select("depth_id").distinct()
    per_depth = depths.join(shared, "depth_id", "left").select(
        F.coalesce(F.col("__est"), F.lit(0)).alias("__est")
    )
    return per_depth.agg(
        F.coalesce(F.min("__est"), F.lit(0)).alias("join_size_est")
    )


def sliding_hll_estimates(
    df: DataFrame,
    bucket_col,
    key_col: str,
    *,
    window_buckets: int,
    m: int = 256,
    seed: int = 11,
) -> DataFrame:
    """Trailing-window distinct counts from mergeable per-bucket HLL
    sketches: one data-sized pass builds an HLL per time bucket
    (:func:`grouped_hll_sketch` with the bucket as the group), then every
    bucket's registers are contributed to the ``window_buckets`` trailing
    windows that contain it and merged by per-register max — the sliding
    "distinct users in the last 24 h, per hour" without re-scanning 24
    hours of data per answer, the summary-over-resummarize pattern a
    100 TB event stream needs (per-answer work is O(windows × m), data
    is touched once; the hourly sketches are exactly what
    ``streaming.sketch_state_sink`` maintains incrementally).

    ``bucket_col`` is an integral bucket index column (e.g. hours since
    epoch). Returns ``(bucket, estimate)`` for every bucket present in
    the data — the estimate covers buckets ``(bucket - window_buckets,
    bucket]``; empty intermediate buckets contribute nothing (correct:
    they hold no keys). Same exact-integer estimator as
    :func:`hll_estimate`, so a DuckDB oracle replays every estimate."""
    if window_buckets <= 0:
        raise ValueError(f"window_buckets must be positive, got {window_buckets}")
    _check_hll_m(m)
    per_bucket = grouped_hll_sketch(
        df.select(bucket_col.alias("__b").cast("long"), F.col(key_col)),
        "__b",
        key_col,
        m=m,
        seed=seed,
    )
    targets = per_bucket.select(
        F.explode(
            F.sequence(
                F.col("__b"), F.col("__b") + F.lit(window_buckets - 1)
            )
        ).alias("bucket"),
        "register",
        "max_rho",
    )
    # Only emit windows anchored at buckets that actually exist in the
    # data (a trailing window is asked "as of" an observed bucket).
    present = per_bucket.select(F.col("__b").alias("bucket")).distinct()
    merged = (
        targets.join(present, "bucket", "left_semi")
        .groupBy("bucket", "register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    return grouped_hll_estimate(merged, "bucket", m=m)


def _hh_threshold(threshold_fraction: float) -> tuple[int, int]:
    """Validate φ and return its exact basis-point form (num, denom)."""
    if not 0.0 < threshold_fraction <= 1.0:
        raise ValueError(
            f"threshold_fraction must be in (0, 1], got {threshold_fraction}"
        )
    denom = 1_000_000
    num = int(round(threshold_fraction * denom))
    if num == 0:
        raise ValueError(
            f"threshold_fraction {threshold_fraction} is below the 1e-6 "
            "basis-point resolution — it would round to a zero threshold "
            "and return every key"
        )
    return num, denom


def _hh_impl(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    threshold_fraction: float,
) -> DataFrame:
    """Shared two-pass pigeonhole heavy-hitter core; ``group_cols=[]``
    is the global case. Threshold arithmetic and the no-forced-broadcast
    reasoning live here ONCE - see the public wrappers for semantics."""
    num, denom = _hh_threshold(threshold_fraction)
    cols = [*group_cols, key_col]
    data = _drop_null(df, cols)
    local = data.groupBy(
        F.spark_partition_id().alias("__pid"), *[F.col(c) for c in cols]
    ).agg(F.count(F.lit(1)).alias("__c"))
    local_tot = local.groupBy("__pid", *group_cols).agg(
        F.sum("__c").alias("__pt")
    )
    candidates = (
        local.join(local_tot, ["__pid", *group_cols])
        .filter(F.col("__c") * denom >= F.lit(num) * F.col("__pt"))
        .select(*cols)
        .distinct()
    )
    # no forced broadcast: candidates are bounded by partitions/phi, which
    # a small phi on a many-partition input can push past broadcast limits
    # - AQE broadcasts the (usually tiny) side at runtime when it fits
    exact = (
        data.join(candidates, cols, "left_semi")
        .groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    if group_cols:
        totals = data.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("group_total")
        )
        return (
            exact.join(totals, group_cols)
            .filter(
                F.col("exact_cnt") * denom >= F.lit(num) * F.col("group_total")
            )
            .select(*cols, "exact_cnt", "group_total")
        )
    total = data.agg(F.count(F.lit(1)).alias("__total"))
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("exact_cnt") * denom >= F.lit(num) * F.col("__total"))
        .select(key_col, "exact_cnt")
    )


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    threshold_fraction: float,
) -> DataFrame:
    """EXACT heavy hitters — non-null keys with ≥ ``threshold_fraction``
    of the non-null rows — in two passes with a pigeonhole-pruned second
    pass. Pass 1 counts keys per PARTITION and keeps keys whose LOCAL
    fraction clears the threshold: if a key's fraction is below φ in
    every partition, its global fraction is below φ too, so this
    candidate set provably contains every true heavy hitter, and by
    definition at most ⌊1/φ⌋ keys per partition qualify — candidates are
    bounded by partitions/φ no matter the key cardinality. Pass 2
    exact-counts ONLY candidates and applies the global threshold. No
    per-key count table is ever retained.

    Pass 1 is the relational (partition_id, key) groupBy: the combine is
    map-side, and its post-combine output (distinct (pid, key) rows)
    crosses one exchange before the local-fraction filter. A key heavy
    enough to clear φ repeats by definition, so that output is far
    smaller than the data in the operator's realistic regime.

    The candidate SET depends on partitioning (any superset is fine);
    the FINAL output does not — the exact pass re-filters globally, so
    results are engine/partitioning-deterministic and a DuckDB oracle
    replays them as plain brute force. Thresholding is exact integer
    arithmetic (``cnt · 10^6 ≥ num · total``); fractions below the
    basis-point resolution are rejected rather than silently degrading
    to return-everything. NULL keys are excluded from both counts and
    the total. Returns ``(key, exact_cnt)``.
    """
    return _hh_impl(df, [], key_col, threshold_fraction)



def hll_intersection_estimate(
    sk_a: DataFrame, sk_b: DataFrame, m: int = 1024
) -> DataFrame:
    """Audience-overlap estimate from two HLL register tables built with
    the same (m, seed): inclusion–exclusion over the raw estimates —
    ``est(A) + est(B) − est(A ∪ B)``, where the union sketch is the
    per-register max (HLL's native merge). All three estimates are the
    exact-integer harmonic sum, so an oracle replays the overlap
    bit-for-bit. Error compounds across three estimates (±1.04/√m each),
    so overlaps much smaller than either set drown in noise — the
    standard caveat; size m for the smaller set. Everything here is
    register-table-sized: O(m) rows in, one row out
    ``(est_a, est_b, est_union, est_intersection)``."""
    _check_hll_m(m)
    ea = hll_estimate(sk_a, m=m).select(F.col("estimate").alias("est_a"))
    eb = hll_estimate(sk_b, m=m).select(F.col("estimate").alias("est_b"))
    union = (
        sk_a.unionByName(sk_b)
        .groupBy("register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    eu = hll_estimate(union, m=m).select(F.col("estimate").alias("est_union"))
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .select(
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersection"
            ),
        )
    )


def hll_time_rollup(
    df: DataFrame,
    bucket_col,
    key_col: str,
    *,
    coarsen: list[int],
    m: int = 256,
    seed: int = 11,
) -> DataFrame:
    """Hierarchical distinct counts from ONE pass: per-bucket HLL
    registers at the finest granularity, then every coarser level
    re-aggregates the FINER level's registers by per-register max (HLL's
    merge), never the data — "distinct users per hour → day → month"
    as the sketch twin of ``operators.timeseries.time_rollup``.

    ``bucket_col`` is the finest integral bucket (e.g. hours since
    epoch); ``coarsen`` gives each coarser level's size IN FINEST
    BUCKETS, ascending (hour→day→month ≈ [24, 720]). Levels are labeled
    ``level 0`` (finest) upward; each level's bucket id is the floor of
    the finest bucket over the level size, so level boundaries are exact
    integer arithmetic and the whole pyramid — registers, merges,
    estimates — replays in an oracle. Returns
    ``(level, bucket, estimate)``; registers-per-level shrink
    geometrically, so the re-aggregation work after the single data pass
    is summary-sized."""
    _check_hll_m(m)
    if not coarsen or any(c <= 1 for c in coarsen) or sorted(coarsen) != coarsen:
        raise ValueError(
            f"coarsen must be ascending level sizes > 1, got {coarsen}"
        )
    sizes = [1] + list(coarsen)
    for a, b in zip(sizes, sizes[1:]):
        if b % a != 0:
            # floor-of-floor only equals floor at the coarser size when
            # each level divides the next (x=36, 24→36: floor(floor(36/24)
            # ·24/36)=0 but floor(36/36)=1) — calendar hierarchies do
            raise ValueError(
                f"each coarsen size must be a multiple of the previous "
                f"({a} does not divide {b})"
            )
    finest = grouped_hll_sketch(
        df.select(bucket_col.cast("long").alias("__b"), F.col(key_col)),
        "__b",
        key_col,
        m=m,
        seed=seed,
    )
    levels = [
        finest.select(
            F.lit(0).alias("level"), F.col("__b").alias("bucket"),
            "register", "max_rho",
        )
    ]
    prev = levels[0]
    prev_size = 1
    for i, size in enumerate(coarsen, start=1):
        # re-aggregate the previous level's registers; size is a
        # validated multiple of prev_size, so floor(prev·a/b) composes to
        # exactly floor(finest/b)
        prev = (
            prev.select(
                F.lit(i).alias("level"),
                (F.floor(F.col("bucket") * prev_size / size)).cast("long").alias(
                    "bucket"
                ),
                "register",
                "max_rho",
            )
            .groupBy("level", "bucket", "register")
            .agg(F.max("max_rho").alias("max_rho"))
        )
        levels.append(prev)
        prev_size = size
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    est = grouped_hll_estimate(
        out.withColumn(
            "__g", F.concat_ws(":", F.col("level"), F.col("bucket"))
        ).select("__g", "register", "max_rho"),
        "__g",
        m=m,
    )
    return est.select(
        F.split(F.col("__g"), ":").getItem(0).cast("int").alias("level"),
        F.split(F.col("__g"), ":").getItem(1).cast("long").alias("bucket"),
        "estimate",
    )


def grouped_heavy_hitters(
    df: DataFrame,
    group_col: str,
    key_col: str,
    threshold_fraction: float,
) -> DataFrame:
    """Per-group exact heavy hitters: within every group, the non-null
    keys holding ≥ ``threshold_fraction`` of that group's non-null rows —
    "dominant contributors per domain", the diagnostic sibling of
    ``packing.cap_per_group``. Same pigeonhole pruning as
    :func:`heavy_hitters`, applied per (partition, group): a key below
    the threshold fraction of its group's rows in EVERY partition is
    below it globally, so per-partition local fractions give a complete
    candidate set of at most 1/φ keys per (partition, group); only
    candidates are exact-counted, and the final global filter makes the
    output partitioning-independent (oracle replays it as brute force).
    Pass 1 is the relational (pid, group, key) groupBy. Returns
    ``(group, key, exact_cnt, group_total)``.
    """
    return _hh_impl(df, [group_col], key_col, threshold_fraction)


def key_skew_audit(df: DataFrame, key_col: str, top_k: int = 5) -> DataFrame:
    """Join-key skew diagnostic: the group-size distribution of
    ``key_col`` — distinct keys, total rows, max/top-k group sizes, the
    hottest key's share, and exact p50/p99 group sizes — the numbers
    that decide between a plain shuffle join, AQE skew splitting, and
    explicit salting (see ``operators.joins.salted_join`` and the
    zipfian study in docs/SCALE.md).

    Two stages: the per-key count (one data-sized shuffle) and
    summary-only aggregation over it — the percentile ranks use an exact
    sort-free count-below comparison (count of keys with size ≤ s vs the
    rank target), so everything is integer-deterministic and
    oracle-replayable. Returns ONE row: ``(n_keys, n_rows, p50_size,
    p99_size, max_size, top1_share_r, topk_sizes_s)``.
    """
    if top_k <= 0:
        raise ValueError(f"top_k must be positive, got {top_k}")
    counts = (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    # exact percentiles of the size distribution: rank r = ceil(q·n_keys);
    # p_q = min size s.t. |{keys with size <= s}| >= r — a self-join-free
    # window over the size histogram (≤ distinct sizes rows)
    size_hist = counts.groupBy(F.col("__c").alias("size")).agg(
        F.count(F.lit(1)).alias("freq")
    )
    from pyspark.sql import Window

    cum = size_hist.withColumn(
        "cum",
        F.sum("freq").over(
            Window.orderBy("size").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    nk = counts.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("__c").alias("n_rows")
    )
    ranked = cum.crossJoin(F.broadcast(nk))
    p50 = (
        ranked.filter(F.col("cum") >= F.ceil(F.lit(0.5) * F.col("n_keys")))
        .agg(F.min("size").alias("p50_size"))
    )
    p99 = (
        ranked.filter(F.col("cum") >= F.ceil(F.lit(0.99) * F.col("n_keys")))
        .agg(F.min("size").alias("p99_size"))
    )
    top = counts.orderBy(F.col("__c").desc(), F.col(key_col)).limit(top_k)
    # collect_list order is not guaranteed post-limit — sort the collected
    # sizes descending so the string is deterministic
    top_agg = top.agg(
        F.max("__c").alias("max_size"),
        F.array_join(
            F.transform(
                F.reverse(F.array_sort(F.collect_list("__c"))),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("topk_sizes_s"),
    )
    return (
        nk.crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p99))
        .crossJoin(F.broadcast(top_agg))
        .select(
            "n_keys",
            "n_rows",
            "p50_size",
            "p99_size",
            "max_size",
            F.round(
                F.col("max_size").cast("double") / F.col("n_rows"), 9
            ).alias("top1_share_r"),
            "topk_sizes_s",
        )
    )


def sliding_cms_topk(
    df: DataFrame,
    bucket_col,
    key_col: str,
    *,
    window_buckets: int,
    k: int,
    width: int = 256,
    depth: int = 4,
    seed: int = 42,
    candidates_per_bucket: int | None = None,
    broadcast_sketch: bool = True,
) -> DataFrame:
    """Trailing-window top-k keys by estimated frequency from mergeable
    per-bucket count-min sketches — "top users over the last 24 h, every
    hour" with state bounded by buckets × depth × width cells, completing
    the windowed-sketch trio (HLL distinct, histogram quantiles, CMS
    frequency). Per-bucket cells merge across each trailing window by
    summing; estimates stay window-local and never undercount the
    window's true counts. Ranking ties break by key — fully
    deterministic, oracle-replayable. Returns
    ``(bucket, rnk, key, estimate)``.

    ``candidates_per_bucket`` (m) bounds the probe set. Default (None):
    every key ACTIVE in a window is probed — exact top-k over all active
    keys, but the distinct (bucket, key) pairs are exploded
    ``window_buckets``×, an O(window × active keys) answer cost that was
    the steepest ×10 grower in the round-6 scale probe. With m set, each
    bucket first estimates its OWN active keys once (one probe pass, NOT
    window-multiplied, plus one exchange to rank within buckets) and
    nominates its top-m by per-bucket estimate (ties by key); a window's
    candidate set is the union of its buckets' nominees, so probes per
    window are ≤ m × window_buckets — constant in key cardinality.

    Written correctness bound for the pruning: let ε_b be bucket b's
    m-th largest per-bucket estimate (0 if the bucket has < m active
    keys). A key NOT nominated by any bucket of window W has per-bucket
    estimate ≤ ε_b in every b ∈ W, and since a CMS estimate never
    undercounts, its true window count is n(W) = Σ_b n(b) ≤ Σ_b est_b ≤
    Σ_{b∈W} ε_b. Contrapositive: every key whose true window count
    exceeds B_W = Σ_{b∈W} ε_b IS a candidate. Since at most m keys per
    bucket can have estimate ≥ ε_b ≥ (its true count), ε_b is at most
    bucket b's m-th largest true count plus CMS overcount, so B_W ≲
    N_W/m + window·overcount — choose m = k·window_buckets (the
    SpaceSaving-style sizing) and any key the pruned top-k misses holds
    under ~1/(k·window) of the window's mass plus sketch noise. The
    pruned output is itself exactly deterministic (nomination and
    ranking both tie-break by key), so an oracle replays it verbatim.

    ``broadcast_sketch`` (default True) forces the sketch tables onto
    broadcast probe joins — right while buckets are day/month-scale
    (≤ thousands × depth × width rows). A YEAR of hourly buckets at
    defaults is ~9M sketch rows: pass False there and let AQE size the
    probe joins instead of forcing a driver collect.
    """
    from pyspark.sql import Window

    if window_buckets <= 0 or k <= 0:
        raise ValueError(
            f"window_buckets and k must be positive, got {window_buckets}/{k}"
        )
    if width <= 0 or depth <= 0:
        raise ValueError(f"width and depth must be positive, got {width}x{depth}")
    if candidates_per_bucket is not None and candidates_per_bucket < k:
        raise ValueError(
            f"candidates_per_bucket must be >= k, got "
            f"{candidates_per_bucket} < {k}"
        )
    data = df.select(
        bucket_col.cast("long").alias("__b"), F.col(key_col)
    ).filter(F.col("__b").isNotNull() & F.col(key_col).isNotNull())
    # (__b, depth_id, bucket, cnt) — "bucket" here is the CELL position;
    # rename to "cell" while the window target takes the "bucket" name
    per_bucket_sk = grouped_count_min_sketch(
        data, "__b", key_col, width=width, depth=depth, seed=seed
    )
    per_bucket = per_bucket_sk.withColumnRenamed("bucket", "cell")
    present = per_bucket.select(F.col("__b").alias("bucket")).distinct()
    fwd = F.explode(
        F.sequence(F.col("__b"), F.col("__b") + F.lit(window_buckets - 1))
    ).alias("bucket")
    merged = (
        per_bucket.select(fwd, "depth_id", "cell", "cnt")
        .join(present, "bucket", "left_semi")
        .groupBy("bucket", "depth_id", "cell")
        .agg(F.sum("cnt").alias("cnt"))
    )
    active = data.distinct()
    if candidates_per_bucket is None:
        keys = (
            active.select(fwd, key_col)
            .join(present, "bucket", "left_semi")
            .distinct()
        )
    else:
        bucket_est = grouped_cms_estimate(
            per_bucket_sk, active, "__b", key_col,
            width=width, depth=depth, seed=seed,
            broadcast_sketch=broadcast_sketch,
        )
        bw = Window.partitionBy("__b").orderBy(
            F.col("estimate").desc(), F.col(key_col)
        )
        nominees = (
            bucket_est.withColumn("__bn", F.row_number().over(bw))
            .filter(F.col("__bn") <= candidates_per_bucket)
            .select("__b", key_col)
        )
        keys = (
            nominees.select(fwd, key_col)
            .join(present, "bucket", "left_semi")
            .distinct()
        )
    est = grouped_cms_estimate(
        merged.select(
            F.col("bucket").alias("__g"), "depth_id",
            F.col("cell").alias("bucket"), "cnt",
        ),
        keys.select(F.col("bucket").alias("__g"), key_col),
        "__g",
        key_col,
        width=width,
        depth=depth,
        seed=seed,
        broadcast_sketch=broadcast_sketch,
    )
    w = Window.partitionBy("__g").orderBy(F.col("estimate").desc(), F.col(key_col))
    return (
        est.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(F.col("__g").alias("bucket"), "rnk", key_col, "estimate")
    )
