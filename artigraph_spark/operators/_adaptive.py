"""Scoped AQE control for operators that manage their own partitioning.

AQE (adaptive query execution) re-optimizes at EVERY exchange: each shuffle
becomes an independently submitted query stage with a driver barrier —
materialize the map side, collect statistics, re-plan, submit the next
stage. That re-planning round costs a fixed driver latency per exchange
(the bench's ``dispatch_ms_per_stage`` gauge measures the same mode), and
it also defeats whole-job pipelining: with AQE off the DAG scheduler
submits the complete stage graph at once and overlapping stages back-fill
the executors.

For most declared queries AQE is a clear win and stays on (the session
default): runtime join-strategy switches and skew splitting are exactly
right for one-shot relational plans over data whose statistics Catalyst
can only estimate (measured here: ``minhash_lsh_pairs`` is 2x FASTER with
AQE on). But two operator families pay the per-exchange barrier many times
over and get nothing back, because the information AQE would discover at
runtime is already pinned by the operator itself:

- **fixed-iteration loops** (pagerank, HITS, BFS, connected components):
  the same node-keyed exchange shapes repeat every round over frames whose
  partitioning the operator pins (persisted degree-annotated edges, the
  session's env-derived shuffle-partition width). 8 iterations x 3
  exchanges = 24 driver barriers per run for plans that never change
  between rounds. Measured at sf0.1/local[32]: pagerank 10.6 s -> 5.1 s
  with AQE off (131 -> ~40 stages).
- **skew-bounded pipelines** (degree-ordered triangle wedge enumeration):
  the algorithm bounds per-key fanout by construction (orientation caps
  out-degree at O(sqrt(E))), so AQE's skew splitting is redundant while
  its barriers serialize a deep join pipeline. Measured: triangle counts
  5.9 s -> 3.1 s with AQE off.

The per-exchange barrier count is scale-INDEPENDENT (it depends on plan
shape, not data volume) — but the benefit side is NOT zero at every
scale: the r15 x30 probe (docs/SCALE_PROBE_r15.json) measured pagerank
1.5x FASTER with AQE ON once the loop's input reached 373 MB (runtime
partition coalescing/skew handling earns the barriers when stages do
real data work). The pin is therefore SCALE-ADAPTIVE: it turns AQE off
only while the operator's estimated input is below the reuse threshold
``SPARK_GRAFT_REUSE_MIN_BYTES`` (default 256 MB — the dispatch-bound
regime where the pin measured ~2x at sf0.1), and leaves the session's
AQE alone above it or when the estimate is unknown. Sharing the reuse
threshold means one knob for "is this input large": ``=0`` treats every
input as large, so it forces the cut and the bucketed shape and never
pins.

A pinned operator runs in a CLONE of the caller's session with AQE off
(``session.child_session``) and hands its result back as a frame of the
caller's session; the caller's conf is never written, so other threads
on that session keep planning with their own AQE setting while a pinned
operator runs, and concurrent pinned operators do not wait for each
other.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame

from artigraph_spark.session import child_session, rebind

_FLAG = "spark.sql.adaptive.enabled"

# Scale-adaptive reuse threshold (bytes of estimated INPUT the fanned-out
# subtree would re-read per extra execution). Below it the frame stays
# lazy — at bench scale (sf0.1 lineitem ≈ 11 MB of parquet) re-running a
# scan+aggregate twice more is cheaper than writing and reading cache
# blocks, measured directly: a forced cut made spearman_price_quantity
# SLOWER at sf0.1. Above it the recompute dominates by construction —
# every extra consumer re-reads the whole input from storage — so the
# histogram is materialized once. 256 MB is the conservative crossover:
# ≥16x the measured break-even scale, far below any "100 TB" regime.
_REUSE_ENV = "SPARK_GRAFT_REUSE_MIN_BYTES"
_REUSE_DEFAULT = 256 * 1024 * 1024

# Optional reliable-checkpoint routing for the cut (r15): when set, frames
# cut above the threshold go through ``operators._checkpoint`` into this
# fault-tolerant directory (HDFS/object store on a cluster) instead of
# executor-local blocks. localCheckpoint blocks cannot be replayed after
# executor loss, and the cut only fires ABOVE the size threshold — i.e.
# exactly at the cluster scale where executor loss is routine — so
# production runs should point this at durable storage; local/bench runs
# leave it unset and keep the cheap executor-local path.
_REUSE_DIR_ENV = "SPARK_GRAFT_REUSE_DIR"

# Catalyst's defaultSizeInBytes for relations with no statistics is
# Long.MaxValue (sometimes scaled); anything this large is "unknown",
# not an actual size. 2^60 ≈ 1.15 exabytes — no real leaf estimate in
# this engine's regime approaches it.
_UNKNOWN_SIZE = 1 << 60

# Leaf plan classes of an already-materialized frame (a lineage cut's
# output, a cached relation). Such a leaf carries the estimate of the frame
# it holds, not of the input that frame was computed from.
_MATERIALIZED = ("LogicalRDD", "InMemoryRelation")


def _threshold() -> int:
    """The reuse threshold in bytes; the 256 MB default when the env is
    unset or malformed (a malformed env must not break queries)."""
    try:
        return int(os.environ.get(_REUSE_ENV, _REUSE_DEFAULT))
    except (TypeError, ValueError):
        return _REUSE_DEFAULT


def _leaf_sizes(df: DataFrame) -> "list[int] | None":
    """The Catalyst size estimate of each LEAF relation of ``df``, or None
    when the JVM-side walk fails (never raises into an operator)."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        return [
            int(str(leaves.apply(i).stats().sizeInBytes()))
            for i in range(leaves.size())
        ]
    except Exception:  # noqa: BLE001 — estimate is advisory only
        return None


def estimated_input_bytes(df: DataFrame) -> int | None:
    """Sum of the Catalyst size estimates of ``df``'s LEAF relations —
    the bytes one full execution of the frame's subtree re-reads from
    storage.

    Leaves, not the plan root: without CBO column statistics Catalyst's
    default join estimate is the PRODUCT of the input sizes (measured:
    a 11 MB ⋈ 3 MB join at sf0.1 reports 1.5 TB), so a root estimate
    would wildly over-trigger. Leaf sizes are file-length-derived for
    parquet relations (linear in scale factor). A frame already cut by
    ``localCheckpoint`` is a leaf that keeps the Catalyst estimate of the
    frame it cut — that frame's OUTPUT, not its input (measured on Spark
    4.1.2: a histogram aggregate over 2,045,762 B of parquet reads as
    613,728 B after the cut). Leaves with NO estimate (Catalyst
    reports defaultSizeInBytes ≈ Long.MaxValue, e.g. a driver-local
    ``createDataFrame`` relation) count as ZERO: such inputs are either
    driver-local literals (tiny by construction) or already-materialized
    RDDs — re-reading them is cheap, and "unknown" must not be read as
    "huge" or every literal-seeded frame would pay a pointless cut.
    Returns None when the JVM-side walk fails."""
    sizes = _leaf_sizes(df)
    if sizes is None:
        return None
    return sum(s for s in sizes if s < _UNKNOWN_SIZE)


def _materialized_leaf(df: DataFrame) -> bool:
    """True when a leaf of ``df`` is already materialized
    (``_MATERIALIZED``), or when the JVM-side walk fails."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        return any(
            leaves.apply(i).getClass().getSimpleName() in _MATERIALIZED
            for i in range(leaves.size())
        )
    except Exception:  # noqa: BLE001 — estimate is advisory only
        return True


def summary_sized(df: DataFrame) -> bool:
    """True when ``df`` is provably small: no leaf is materialized, every
    leaf has a known Catalyst estimate, and their sum is below the reuse
    threshold (``SPARK_GRAFT_REUSE_MIN_BYTES``, default 256 MB).

    The gate inside the two prefix walks of ``operators._ranks``
    (``bucketed_prefix_sums``, ``bucketed_group_value_ranks``): a
    summary-sized input takes the plain-window shape, any other the
    bucketed, lineage-cut walk. Every operator reaches it through those
    two calls. Unlike :func:`estimated_input_bytes` an unknown leaf does
    NOT count as zero here: a single-partition window over an input of
    unknown size is the one mistake the gate must not make, so an
    unknown leaf or a failed walk answers False (the bucketed shape, safe
    at any size). Sharing the reuse threshold means no second knob: below
    it the reuse cut is a no-op anyway, and ``=0`` forces both the cut and
    the bucketed shape. A materialized leaf answers False too: a cut frame
    is estimated at its own (histogram) size, far below the input it was
    computed from (2,045,762 B of parquet reads as 613,728 B after the
    cut), so a frame cut upstream — ``psi_drift``'s base histogram,
    ``spearman_corr``'s joint histogram above the threshold — must never
    read as small."""
    sizes = _leaf_sizes(df)
    return (
        sizes is not None
        and all(s < _UNKNOWN_SIZE for s in sizes)
        and sum(sizes) < _threshold()
        and not _materialized_leaf(df)
    )


def reuse_frame(df: DataFrame) -> DataFrame:
    """Scale-adaptive lineage cut for a SUMMARY-SIZED frame consumed by
    2+ downstream branches of one query.

    Spark recomputes a shared subtree once per consumer unless the
    exchanges are byte-identical — and column pruning specializes each
    branch's aggregate (the range frame keeps only the value column,
    the offsets branch drops it, the window keeps everything), so
    exchange reuse never fires for the bucketed rank/prefix-sum
    pattern: at 100 TB each extra branch is a full fact-table rescan
    (guide §2.4 "remove shuffles outright" / §3.3 "materialising an
    intermediate truncates the plan").

    Below the ``SPARK_GRAFT_REUSE_MIN_BYTES`` input threshold (default
    256 MB) this is a NO-OP — the declared plan, the bench timings and
    the oracle replay at test scale are bit-identical to the lazy
    shape. Above it the frame is cut with ``localCheckpoint(eager=
    False)``: computed once (timing: see below), blocks freed by the
    ContextCleaner when the result frame is dropped (the persist()
    alternative leaks CacheManager entries for lazy query frames no
    caller ever unpersists), partitioning/ordering metadata preserved
    (LogicalRDD carries both, so chained passes keep their
    no-new-exchange property). Fault-tolerance: a localCheckpoint
    cannot be replayed after executor loss, so cluster runs set
    ``SPARK_GRAFT_REUSE_DIR`` to a fault-tolerant directory and the cut
    routes through ``operators._checkpoint`` (reliable ``checkpoint``)
    instead; iterative operators that take an explicit
    ``checkpoint_dir`` argument keep their own routing.

    "Lazy" is only partly true under AQE (the session default): making
    the cut builds the frame's RDD, which finalizes the adaptive plan
    and so runs the frame's upstream shuffle stages when the frame is
    DEFINED, not on its first action; only the last stage and the
    checkpoint blocks wait for the action. With AQE off nothing runs
    until the first action.

    Only hand this SUMMARY-sized frames (histograms, distinct-value
    maps): the materialization cost is the frame's own size, which for
    a histogram is bounded by the distinct count, not the row count."""
    return reuse_frame_cut(df)[0]


def reuse_frame_cut(df: DataFrame) -> "tuple[DataFrame, bool]":
    """:func:`reuse_frame` plus a flag saying whether the cut fired —
    for callers that restructure neighbouring branches only when the
    frame is actually materialized (e.g. sourcing a min/max range frame
    from the cached histogram instead of the raw rows)."""
    est = estimated_input_bytes(df)
    if est is None or est < _threshold():
        return df, False
    try:
        # Already materialized (the plan is a bare LogicalRDD /
        # InMemoryRelation / driver-local leaf — e.g. a caller cut this
        # frame before passing it down): a second cut would copy the
        # cached blocks for nothing. Composed operators hit this when
        # both a caller and a primitive guard the same frame. A bare
        # FILE-SCAN leaf (LogicalRelation etc.) is NOT materialized —
        # but it is also not worth cutting: each consumer's pruned,
        # pushdown-filtered columnar re-scan is cheaper than one
        # full-width copy into cache, so report cut=False and let the
        # caller keep its below-threshold shape.
        plan = df._jdf.queryExecution().analyzed()
        if plan.children().isEmpty():
            name = plan.getClass().getSimpleName()
            if name in (*_MATERIALIZED, "LocalRelation", "OneRowRelation"):
                return df, True
            return df, False
    except Exception:  # noqa: BLE001 — guard is advisory only
        pass
    return cut_frame(df), True


def cut_frame(df: DataFrame) -> DataFrame:
    """Apply the reuse cut UNCONDITIONALLY, with the same routing as
    :func:`reuse_frame` (``SPARK_GRAFT_REUSE_DIR`` → reliable checkpoint,
    else executor-local blocks) but no threshold check — for operators
    that already decided the frame is above threshold from an UPSTREAM
    estimate. The case that needs this: once an upstream cut fired, the
    downstream frame's leaves are unknown-size RDD scans (estimated as
    zero), so ``reuse_frame`` on it could never fire even though one
    materialized execution is exactly as justified as the upstream one
    (seasonal_decompose's output under stl_outliers' 3-branch fan-out).
    Same timing as :func:`reuse_frame`: under AQE the frame's upstream
    shuffle stages run here, when the cut is made.
    """
    reuse_dir = os.environ.get(_REUSE_DIR_ENV)
    if reuse_dir:
        from artigraph_spark.operators._checkpoint import checkpoint as _ckpt

        return _ckpt(df, reuse_dir, eager=False)
    return df.localCheckpoint(eager=False)


# Scale crossover for the AQE pin (r15, measured at both ends): below
# the reuse threshold the loop is DISPATCH-bound — the per-exchange
# re-planning barrier dominates and pinning AQE off measured ~2x faster
# (pagerank 10.6 s -> 5.1 s at sf0.1, 11 MB of input; r14). Above it the
# loop is DATA-bound and AQE's runtime partition coalescing/skew handling
# wins: at x30 (373 MB of input, docs/SCALE_PROBE_r15.json) pagerank
# measured 52.8 s pinned vs 35.3 s with AQE on (1.5x), results identical.
# The pin is therefore applied only when the loop's estimated input is
# BELOW the threshold — never a constant tuned for one deployment
# (guide §2).
def pinned_parallelism(fn):
    """Decorator: run ``fn`` with AQE off when its first argument — the
    frame it loops or joins over — estimates below the reuse threshold
    ``SPARK_GRAFT_REUSE_MIN_BYTES`` (default 256 MB), i.e. when the loop is
    dispatch-bound and the per-exchange AQE barrier is the dominant cost.
    Data-bound loops keep the session's AQE (runtime coalescing + skew
    splitting won 1.5x at the x30 probe scale), and so does a frame whose
    estimate is unknown: without a size there is no case for the pin.

    Pinned, every DataFrame argument is rebound into a clone of the
    frame's session with AQE off — all of them, because a join plans in
    its LEFT frame's session, so a caller-session seed frame on the left
    would plan adaptively — and a DataFrame result is rebound to the
    frame's own session. Everything ``fn`` builds, persists or
    checkpoints plans in the clone, which matters because a persist
    compiles its plan at cacheQuery and a lazy checkpoint freezes its
    plan when it is declared. A pinned operator calling another pinned
    operator passes frames of the clone, so the inner one runs AQE-off
    too."""

    @functools.wraps(fn)
    def pinned(frame: DataFrame, *args, **kwargs):
        est = estimated_input_bytes(frame)
        if est is None or est >= _threshold():
            return fn(frame, *args, **kwargs)
        child = child_session(frame.sparkSession, {_FLAG: "false"})

        def to_child(v):
            return rebind(v, child) if isinstance(v, DataFrame) else v

        out = fn(
            *map(to_child, (frame, *args)),
            **{k: to_child(v) for k, v in kwargs.items()},
        )
        return rebind(out, frame.sparkSession) if isinstance(out, DataFrame) else out

    return pinned
