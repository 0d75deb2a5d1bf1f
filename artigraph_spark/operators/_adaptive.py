"""Adaptive decisions from one size estimate: the reuse cut, and scoped
AQE control for operators that manage their own partitioning.

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
real data work). The pin is therefore SCALE-ADAPTIVE.

Every adaptive decision in the engine — the pin, the reuse cut and the
prefix/rank gate of ``operators._ranks`` — reads ONE size estimate per
frame, :func:`_estimate`: a single walk over the frame's leaf relations
that sums the Catalyst estimates it knows, adds the SOURCE bytes that
each lineage cut recorded when it was made, and counts the leaves it
knows nothing about (a driver-local ``createDataFrame``, a user's own
``localCheckpoint`` or cached relation). The two decisions over it share
the reuse threshold ``SPARK_GRAFT_REUSE_MIN_BYTES`` (default 256 MB), so
one knob says "this input is large":

- :func:`summary_sized` — no unknown leaf and known + source bytes below
  the threshold: the prefix walks take plain windows and a pinned
  operator runs with AQE off. An unknown leaf answers no (the bucketed
  shape and the session's AQE are safe at any size).
- the reuse cut (:func:`reuse_frame_cut`) — known + source bytes at or
  above the threshold, on a frame that is not itself a bare leaf.

``=0`` treats every input as large: it forces the cut and the bucketed
shape and never pins.

A cut (:func:`cut_frame`) names its own RDD after the estimate of the
frame it cut (bytes and unknown leaves). Catalyst would estimate the
cut's ``LogicalRDD`` leaf at the cut frame's OUTPUT (a histogram over
2,045,762 B of parquet reads as 613,728 B on Spark 4.1.2, and a
signature frame over 65,515 B as 169,033,645 B); the name carries the
input it stands for instead, and every frame derived from the cut reads
it through that leaf, through joins, aggregates and actions alike. Only
this module writes or reads that name. The cut itself is
``operators._checkpoint``'s, so it is reliable exactly when the context
has a checkpoint directory.

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
from collections import namedtuple

from pyspark.sql import DataFrame

from artigraph_spark.operators._checkpoint import checkpoint
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

# Catalyst's defaultSizeInBytes for relations with no statistics is
# Long.MaxValue (sometimes scaled); anything this large is "unknown",
# not an actual size. 2^60 ≈ 1.15 exabytes — no real leaf estimate in
# this engine's regime approaches it.
_UNKNOWN_SIZE = 1 << 60

# Leaf plan classes of an already-materialized frame (a lineage cut's
# output, a cached relation): known only through a cut's record.
_MATERIALIZED = ("LogicalRDD", "InMemoryRelation")

# The RDD name a cut records its source estimate under:
# ``<_RECORD><known + source bytes>,<unknown leaves>``.
_RECORD = "artigraph_spark.estimate="


# What :func:`_estimate` reads off a frame: ``known`` bytes of the leaves
# Catalyst has an estimate for, ``source`` bytes the cut leaves were
# computed from (their records), the count of ``unknown`` leaves (no
# estimate; a cut's record adds the unknown leaves of the frame it cut),
# and the plan's class as ``root`` when the root is itself a leaf (or a
# no-shuffle coalesce of one).
_Estimate = namedtuple("_Estimate", "known source unknown root")


def _threshold() -> int:
    """The reuse threshold in bytes; the 256 MB default when the env is
    unset or malformed (a malformed env must not break queries)."""
    try:
        return int(os.environ.get(_REUSE_ENV, _REUSE_DEFAULT))
    except (TypeError, ValueError):
        return _REUSE_DEFAULT


def _estimate(df: DataFrame) -> "_Estimate | None":
    """One walk over ``df``'s leaf relations — the bytes one full
    execution of the frame's subtree re-reads from storage — reading each
    leaf's class and size once. None when the JVM-side walk fails (it
    never raises into an operator).

    Leaves, not the plan root: without CBO column statistics Catalyst's
    default join estimate is the PRODUCT of the input sizes (measured:
    a 11 MB ⋈ 3 MB join at sf0.1 reports 1.5 TB), so a root estimate
    would wildly over-trigger. Leaf sizes are file-length-derived for
    parquet relations (linear in scale factor), and a self-join counts
    its input twice."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        leaves = plan.collectLeaves()
        known = source = unknown = 0
        for i in range(n := leaves.size()):
            leaf = leaves.apply(i)
            name = leaf.nodeName()
            if name == "LogicalRDD" and (tag := leaf.rdd().name() or "").startswith(_RECORD):
                recorded, unknowns = map(int, tag[len(_RECORD):].split(","))
                source += recorded
                unknown += unknowns
            elif name in _MATERIALIZED or (
                size := int(str(leaf.stats().sizeInBytes()))
            ) >= _UNKNOWN_SIZE:
                unknown += 1
            else:
                known += size
        # A loaded one-split table is its scan under a no-shuffle
        # coalesce(1) (sources.load): still a bare leaf.
        top = plan
        if n == 1 and top.nodeName() == "Repartition" and not top.shuffle():
            top = top.child()
        root = name if n == 1 and top.equals(leaf) else None
        return _Estimate(known, source, unknown, root)
    except Exception:  # noqa: BLE001 — estimate is advisory only
        return None


def summary_sized(df: DataFrame) -> bool:
    """True when ``df`` is provably small: every leaf's estimate is known
    (a Catalyst estimate, or the source estimate a cut recorded) and they
    sum below the reuse threshold (``SPARK_GRAFT_REUSE_MIN_BYTES``,
    default 256 MB).

    The gate inside the two prefix walks of ``operators._ranks``
    (``bucketed_prefix_sums``, ``bucketed_group_value_ranks``): a
    summary-sized input takes the plain-window shape, any other the
    bucketed, lineage-cut walk. It is also the AQE pin's test
    (:func:`pinned_parallelism`). An unknown leaf or a failed walk
    answers False: a single-partition window over an input of unknown
    size is the one mistake the gate must not make. A frame derived from
    a cut reads as large as the input the cut was computed from, so a
    frame cut upstream above the threshold (``psi_drift``'s base
    histogram, ``spearman_corr``'s joint histogram) never reads as small,
    while one cut below it (``robust_outliers``' median) still does."""
    est = _estimate(df)
    return est is not None and not est.unknown and est.known + est.source < _threshold()


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
    shape. Above it the frame is cut with :func:`cut_frame`.

    Only hand this SUMMARY-sized frames (histograms, distinct-value
    maps): the materialization cost is the frame's own size, which for
    a histogram is bounded by the distinct count, not the row count."""
    return reuse_frame_cut(df)[0]


def reuse_frame_cut(df: DataFrame) -> "tuple[DataFrame, bool]":
    """:func:`reuse_frame` plus a flag saying whether the frame is
    materialized — for callers that restructure neighbouring branches
    only then (e.g. sourcing a min/max range frame from the cached
    histogram instead of the raw rows).

    It cuts when the frame's known + source bytes reach the threshold.
    Unknown leaves count for nothing here: they are driver-local
    literals or already-materialized frames, cheap to re-read. A frame
    that is itself a bare leaf is never cut again: a materialized or
    driver-local leaf (e.g. a caller cut this frame before passing it
    down) reports True as it stands, while a bare FILE-SCAN leaf reports
    False — each consumer's pruned, pushdown-filtered re-scan is cheaper
    than one full-width copy into cache."""
    est = _estimate(df)
    if est is None or est.known + est.source < _threshold():
        return df, False
    if est.root:
        return df, est.root in (*_MATERIALIZED, "LocalRelation", "OneRowRelation")
    return cut_frame(df), True


def cut_frame(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage UNCONDITIONALLY — for operators whose frame
    fans out whatever its size — and record ``df``'s estimate (known +
    source bytes, and its count of unknown leaves) on the cut, so every
    frame derived from it reads as the input it stands for.

    The cut is ``operators._checkpoint``'s: an eager reliable checkpoint
    when the context has a checkpoint directory (localCheckpoint blocks
    cannot be replayed after executor loss, and the reuse cut fires
    exactly at the cluster scale where executor loss is routine; eager,
    so the frame is computed once, when the cut is defined). Without one
    it is a lazy ``localCheckpoint``: blocks are freed by the ContextCleaner
    when the result frame is dropped (a persist() would leak CacheManager
    entries for lazy frames no caller ever unpersists), and the
    LogicalRDD keeps the partitioning/ordering metadata, so chained
    passes keep their no-new-exchange property.

    "Lazy" is only partly true under AQE (the session default): making
    a local cut builds the frame's RDD, which finalizes the adaptive plan
    and so runs the frame's upstream shuffle stages when the cut is
    DEFINED, not on its first action; only the last stage and the
    checkpoint blocks wait for the action. With AQE off nothing runs
    until the first action."""
    est = _estimate(df)
    out = checkpoint(df, eager=False)
    if est is not None:
        out._jdf.queryExecution().analyzed().rdd().setName(
            f"{_RECORD}{est.known + est.source},{est.unknown}"
        )
    return out


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
    frame it loops or joins over — is :func:`summary_sized`, i.e. when the
    loop is dispatch-bound and the per-exchange AQE barrier is the
    dominant cost. Data-bound loops keep the session's AQE (runtime
    coalescing + skew splitting won 1.5x at the x30 probe scale), and so
    does a frame with an unknown leaf: a driver-local or user-cut input
    may hold any number of rows, so there is no case for the pin.

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
        if not summary_sized(frame):
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
