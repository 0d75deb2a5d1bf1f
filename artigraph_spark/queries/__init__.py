"""Declared query surface: every operator from SURVEY.md §2 Part B.

Each query is registered with a Spark callable ``(spark, sf_dir) -> DataFrame``
and (when SQL-expressible) a DuckDB oracle SQL string producing identical
columns/values. The driver hash-compares them at sf0.01.

Determinism contract (see FIXTURES.md):
  - aggregate doubles through DECIMAL(38,9) (order-independent) — helpers in
    :mod:`artigraph_spark.functions`;
  - totally order any LIMIT/top-k input;
  - no raw arrays/maps/timestamps in output — strings/scalars only;
  - column names aliased identically on both sides.
"""

from __future__ import annotations

import dataclasses
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclasses.dataclass(frozen=True)
class QueryDef:
    name: str
    fn: SparkQuery
    oracle: str | None  # None → driver runs rows-only check
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None, bench: bool = False) -> Callable[[SparkQuery], SparkQuery]:
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, bench=bench)
        return fn

    return deco


# The driver's correctness gate records a fixed-size PREFIX of queries() (50
# entries in round 1). Names listed here are emitted first, in this order, so
# the queries that most need a hard-signal row this round — previously
# unsampled families, queries whose implementation changed, and new queries —
# land inside the recorded window. Everything else follows in registration
# order; total registration is unchanged.
#
# REGISTRY-GROWTH POLICY (r10): SURVEY §2 is 100% covered, so new operators
# are now ELECTIVE. At 264 queries against a 50-row window, each new query
# adds ~5 rounds of staleness debt to the rotation; from r10 on, windows are
# ≥60% re-greens (stale-first) and new queries are added only when they cover
# a genuine user-facing gap (a missing operator family member, a scale-path
# variant of a weak plan) — not for count. The rotation drains oldest-first:
# r10 clears the 28 oldest r4-stale; r11 should clear the 3 remaining
# r4-stale plus the 43 r5-stale and start on r6.
_PRIORITY: tuple[str, ...] = (
    # ROUND-16 ROTATION. Recorded-window census at round start:
    # {r10:42, r11:44, r12:42, r13:48, r14:48, r15:50} (274 total, no
    # never-recorded queries; the r15 rotation predicted 43 r10-stale,
    # the recorded count is 42). No new queries. Window: 2
    # impl-changed re-greens + ALL 42 r10-stale (alphabetical) + the
    # first 6 r11-stale (alphabetical) = exactly 50, draining the
    # oldest stratum completely. Expected census after the driver
    # records r16: {r11:37, r12:42, r13:48, r14:47, r15:50, r16:50}.
    # Impl-changed rationale (values identical, adaptive decisions
    # changed — each earns a fresh hash row): mad_outliers_orders (the
    # MAD pass's prefix walk takes plain windows: its input joins the
    # cut median, which now reads as the input it was computed from),
    # dedup_clusters (connected components now runs with AQE pinned
    # off: the signature cut reads as its ~64 KB input, where Catalyst
    # estimated its output at 169 MB per band branch).
    # (1) impl changed this round — first driver rows
    "mad_outliers_orders", "dedup_clusters",
    # (2) all 42 r10-stale re-greens (alphabetical)
    "dedup_exact", "dedup_fingerprint", "dedup_lines_in_doc",
    "doc_rolling_hash", "domain_cap", "epoch_shuffle_shards",
    "exact_quantiles_quantity", "feature_bins_lineitem",
    "gini_spend_by_nation", "grouped_map_pandas", "join_cross",
    "join_full_outer", "join_inner", "join_left_anti", "join_left_outer",
    "join_left_semi", "join_range", "join_right_outer", "join_self",
    "join_star_broadcast", "kcore_copurchase", "kfold_assign_docs",
    "ks_price_drift", "lang_distribution", "lorenz_spend_by_nation",
    "mann_whitney_quantity", "media_decode_headers",
    "minhash_lsh_pairs_checked", "nested_struct_access", "pack_sequences",
    "pack_sequences_by_lang", "percent_of_total", "psi_price_drift",
    "scalar_subquery_filter", "spearman_price_quantity",
    "spearman_price_quantity_quantized", "stratified_sample_mix",
    "stratified_split_exact", "string_agg", "text_normalize",
    "tukey_outliers_quantity", "twap_user_value",
    # (3) the first 6 r11-stale (alphabetical) to fill 50
    "anomaly_zscore_hours", "bloom_prefilter_contract",
    "calendar_functions", "chunk_documents", "clustering_coefficient",
    "cohort_retention",
)

# The queries whose implementation or oracle changed THIS round (the
# window-audit "fresh" set): they hold recent driver rows but earn new
# ones because the plan/values pipeline changed. Declared here so
# `tools/window_audit.py` is reproducible with no arguments.
# (Superseded rotations live in git history and in the committed
# CORRECTNESS_r* artifacts the audit recomputes from.)
ROUND_FRESH: tuple[str, ...] = ("mad_outliers_orders", "dedup_clusters")


def _ordered() -> dict[str, QueryDef]:
    _load_modules()
    out: dict[str, QueryDef] = {}
    for name in _PRIORITY:
        if name in REGISTRY:
            out[name] = REGISTRY[name]
    for name, qd in REGISTRY.items():
        if name not in out:
            out[name] = qd
    return out


def queries() -> dict[str, SparkQuery]:
    return {name: qd.fn for name, qd in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: qd.oracle for name, qd in _ordered().items() if qd.oracle is not None}


def bench_queries() -> dict[str, SparkQuery]:
    _load_modules()
    return {name: qd.fn for name, qd in REGISTRY.items() if qd.bench}


_LOADED = False


def _load_modules() -> None:
    global _LOADED
    if _LOADED:
        return
    # Import for registration side effects.
    from artigraph_spark.queries import (  # noqa: F401
        aggregates,
        analytics,
        exactstats,
        extras,
        joins,
        llm,
        pipeline,
        relational,
        setops,
        timeseries,
        windows,
    )

    _LOADED = True
