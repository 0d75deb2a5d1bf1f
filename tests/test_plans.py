"""Physical-plan invariant tests: the plan shapes that must survive a
100×-scale-up, locked in as assertions (see docs/PLANS.md).

Every sf0.001 table is one file that Spark scans as one partition, so
``sources.load`` declares it single-partition and no exchange is planned
above it. The tests that lock an exchange's shape read their tables
through the ``multi_split`` session, which scans them as several
partitions, and check the default load of the same query too: no shuffle,
the same rows."""

import pytest

from artigraph_spark import plans as P
from artigraph_spark.queries import queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return queries()


def _same_rows_unshuffled(single, split, shuffles=0):
    """``single``, the query over the default one-partition loads, plans
    ``shuffles`` shuffle exchanges (none unless a test says why) and
    returns the rows ``split`` (the same query over multi-split loads)
    does."""
    assert P.count_shuffles(single) == shuffles
    assert sorted(single.collect(), key=repr) == sorted(split.collect(), key=repr)


def test_star_join_broadcasts_dims(spark, qs):
    df = qs["join_star_broadcast"](spark, SF)
    assert P.has_node(df, "BroadcastHashJoin")
    # date filter must be pushed into the orders scan
    assert any("o_orderdate" in f for f in P.pushed_filters(df))


def test_star_join_prunes_lineitem_columns(spark, qs):
    df = qs["join_star_broadcast"](spark, SF)
    cols = P.scan_columns(df, "lineitem.parquet")
    assert set(cols) == {"l_orderkey", "l_extendedprice", "l_discount"}


def test_filter_pushdown_reaches_scan(spark, qs):
    df = qs["filter_between_isin"](spark, SF)
    filters = " ".join(P.pushed_filters(df))
    assert "GreaterThanOrEqual(l_quantity,5.0)" in filters
    assert "In(l_returnflag" in filters


def test_topk_uses_window_group_limit(spark, multi_split, qs):
    df = qs["window_topk_per_group"](multi_split, SF)
    plan = P.physical_plan(df, "simple")
    assert "WindowGroupLimit" in plan and "Partial" in plan
    _same_rows_unshuffled(qs["window_topk_per_group"](spark, SF), df)


def test_global_topk_is_take_ordered(spark, qs):
    df = qs["sort_limit_topk"](spark, SF)
    assert P.has_node(df, "TakeOrderedAndProject")


def test_asof_join_single_exchange_no_explosion(spark, multi_split):
    # union-tag implementation: exactly one hash exchange (on the key),
    # and no join node at all (the reduce is windowed carry-forward).
    from artigraph_spark.operators.joins import asof_join
    from artigraph_spark.sources import load

    def joined(session):
        e = load(session, SF, "events").select("event_id", "user_id", "ts")
        o_raw = load(session, SF, "orders")
        o = o_raw.select("o_orderkey", "o_orderdate", o_raw.o_custkey.alias("user_id"))
        return asof_join(e, o, on="user_id", left_time="ts", right_time="o_orderdate")

    df = joined(multi_split)
    assert P.count_exchanges(df) == 1
    assert "Join" not in P.physical_plan(df, "simple")
    _same_rows_unshuffled(joined(spark), df)


def test_minhash_signatures_no_shuffle(spark):
    from artigraph_spark.operators.dedup import minhash_signatures_fast
    from artigraph_spark.sources import load

    d = load(spark, SF, "documents")
    sigs = minhash_signatures_fast(d, "doc_id", "text")
    assert P.count_exchanges(sigs) == 0  # pure projection chain


def test_agg_is_partial_final(spark, qs):
    df = qs["agg_pricing_summary"](spark, SF)
    plan = P.physical_plan(df, "simple")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "l_shipdate" in " ".join(P.pushed_filters(df))


def test_ivf_candidate_join_not_cartesian(spark):
    """IVF probing must plan as an equi-join on cell id (broadcast or
    shuffled hash), never a nested-loop cross product; the cosine projection
    must land before the top-k exchange."""
    from pyspark.sql import functions as F

    from artigraph_spark.operators.similarity import cosine_topk_ivf
    from artigraph_spark.sources import load

    e = load(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    df = cosine_topk_ivf(e, q, k=3, n_cells=4, nprobe=2)
    plan = P.physical_plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_embedding_near_dup_is_bucketed_equi_join(spark):
    from artigraph_spark.operators.similarity import embedding_near_dup_pairs
    from artigraph_spark.sources import load

    e = load(spark, SF, "embeddings")
    df = embedding_near_dup_pairs(e, n_tables=2)
    plan = P.physical_plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_sequences_no_global_window(spark, multi_split, qs):
    """The prefix sum must be per-bucket (hashpartitioning on __bkt), never
    a single-partition global window, and the offsets join must broadcast."""
    df = qs["pack_sequences"](multi_split, SF)
    plan = P.physical_plan(df, "simple")
    assert "SinglePartition" not in plan
    assert "hashpartitioning(__bkt" in plan  # per-bucket window key
    assert "BroadcastExchange" in plan
    _same_rows_unshuffled(qs["pack_sequences"](spark, SF), df)


def test_domain_cap_map_side_group_limit(spark, multi_split, qs):
    """Per-group cap prunes to <=k rows per partition BEFORE the exchange."""
    df = qs["domain_cap"](multi_split, SF)
    plan = P.physical_plan(df, "simple")
    assert "WindowGroupLimit" in plan and "Partial" in plan
    _same_rows_unshuffled(qs["domain_cap"](spark, SF), df)


def test_weighted_sample_is_take_ordered(spark, qs):
    df = qs["weighted_sample_topk"](spark, SF)
    assert P.has_node(df, "TakeOrderedAndProject")


def test_contamination_no_cartesian(spark, qs):
    plan = P.physical_plan(qs["benchmark_contamination"](spark, SF), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_filter_only(spark, qs):
    """Mixing is a pure filter over the scan — no exchange at all."""
    df = qs["stratified_sample_mix"](spark, SF)
    assert P.count_exchanges(df) == 0


def test_chunk_documents_no_shuffle(spark, qs):
    """Chunking is a per-row explode over the scan — zero exchanges."""
    df = qs["chunk_documents"](spark, SF)
    assert P.count_exchanges(df) == 0


def test_upsample_domains_no_shuffle(spark, qs):
    """Fractional upsampling is a filter + sequence-explode — zero
    exchanges."""
    df = qs["upsample_domains"](spark, SF)
    assert P.count_exchanges(df) == 0


def test_select_token_budget_no_global_sort(spark, multi_split, qs):
    """Budget selection must never serialize through one task: the prefix
    sum runs per score-bucket (hash partitioning), never a global
    rangepartitioning sort, and the bucket-offset join broadcasts."""
    df = qs["select_token_budget"](multi_split, SF)
    plan = P.physical_plan(df, "simple")
    assert "rangepartitioning" not in plan
    assert "SinglePartition" not in plan
    assert "hashpartitioning(__bkt" in plan
    assert "BroadcastExchange" in plan
    # The driver-computed score cutoff must reach the parquet scan as a
    # plain integer comparison (row-group skipping): pruned buckets are
    # never even tokenized.
    filters = " ".join(P.pushed_filters(df))
    assert "GreaterThanOrEqual(n_chars" in filters
    _same_rows_unshuffled(qs["select_token_budget"](spark, SF), df)


def test_repetition_scores_no_cartesian(spark, qs):
    plan = P.physical_plan(qs["repetition_scores"](spark, SF), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_unigram_logprob_no_cartesian(spark, qs):
    """The corpus total rides a broadcast 1-row cross join; the token join
    is a hash join — never a real cartesian."""
    plan = P.physical_plan(qs["unigram_logprob"](spark, SF), "simple")
    assert "CartesianProduct" not in plan


def test_quantize_embeddings_single_shuffle(spark, qs):
    """Quantization is per-row expressions + one id-keyed error aggregate:
    at most the aggregate's exchange pair, nothing else."""
    df = qs["quantize_embeddings"](spark, SF)
    assert P.count_exchanges(df) <= 2
    plan = P.physical_plan(df, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q5_broadcasts_bounded_dims_and_pushes_dates(spark, qs):
    """Q5's nation/region joins broadcast; the order-date bracket reaches
    the orders scan."""
    df = qs["tpch_q5_local_supplier_volume"](spark, SF)
    assert P.has_node(df, "BroadcastHashJoin")
    filters = " ".join(P.pushed_filters(df))
    assert "o_orderdate" in filters
    plan = P.physical_plan(df, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_dedup_segments_no_cartesian_no_global_window(spark, qs):
    df = qs["dedup_segments_corpus"](spark, SF)
    plan = P.physical_plan(df, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # reassembly is aggregate-based (groupBy doc), the arg-min groupBys the
    # segment — no Window node at all; if a rewrite ever introduces one it
    # must be partitioned, so revisit this lock then
    assert "Window" not in plan


def test_lsh_pairs_between_is_equi_join(spark, qs):
    df = qs["incremental_dedup_checked"](spark, SF)
    plan = P.physical_plan(df, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_anti_join_on_digest(spark, qs):
    df = qs["incremental_dedup"](spark, SF)
    plan = P.physical_plan(df, "simple")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q2_min_cost_is_take_ordered_no_cartesian(spark, qs):
    """Q2's top-100 must run as TakeOrderedAndProject (no global sort
    materializes) and the min-equality join plans as an equi-join."""
    df = qs["tpch_q2_min_cost_supplier"](spark, SF)
    assert P.has_node(df, "TakeOrderedAndProject")
    plan = P.physical_plan(df, "simple")
    assert "CartesianProduct" not in plan


def test_q16_anti_join_and_part_pushdown(spark, qs):
    """Q16's NOT-IN plans as a broadcast anti-join and the brand/size
    predicates reach the part scan."""
    df = qs["tpch_q16_supplier_relationships"](spark, SF)
    plan = P.physical_plan(df, "simple")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    filters = " ".join(P.pushed_filters(df))
    assert "p_size" in filters and "p_brand" in filters


def test_q21_semi_anti_stack_no_explosion(spark, qs):
    """Q21's EXISTS/NOT-EXISTS pair plans as semi+anti joins on the order
    key — never a nested-loop product (the supplier inequality must ride
    as a join residual, not a post-product filter)."""
    df = qs["tpch_q21_waiting_orders"](spark, SF)
    plan = P.physical_plan(df, "simple")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q20_share_threshold_is_integer_join(spark, qs):
    """Q20's nested aggregate gates a distinct-collapsed semi path; no
    cartesian anywhere and the PROMO/date filters push into their scans."""
    df = qs["tpch_q20_excess_suppliers"](spark, SF)
    plan = P.physical_plan(df, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    filters = " ".join(P.pushed_filters(df))
    assert "l_shipdate" in filters and "p_type" in filters


def test_collocation_pmi_topk_no_cartesian(spark, qs):
    """PMI scores only OBSERVED bigrams (vocabulary-keyed hash joins); the
    two corpus totals ride broadcast 1-row cross joins and the top-k runs
    as TakeOrderedAndProject — never a real cartesian."""
    df = qs["collocation_pmi"](spark, SF)
    assert P.has_node(df, "TakeOrderedAndProject")
    plan = P.physical_plan(df, "simple")
    assert "CartesianProduct" not in plan


def test_triangle_counts_equi_joins_only(spark):
    """The FULL production triangle pipeline — the co-purchase pair
    construction (its a < b residual included) plus wedge enumeration
    and closure — must plan as hash equi-joins, never a nested-loop
    product. Inspected via materialize=False on the query's own edge
    builder (the registered query localCheckpoints eagerly, which would
    hide the interesting plan behind an RDD scan)."""
    from artigraph_spark.operators.graph import triangle_counts
    from artigraph_spark.queries.analytics import _copurchase_pairs

    df = triangle_counts(_copurchase_pairs(spark, SF), "s1", "s2", materialize=False)
    plan = P.physical_plan(df, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


# ---- round-6 plan locks ----


def test_interval_join_is_equi_join_with_range_residual(spark, qs):
    """The time bounds must ride the user_id equi-join as a residual —
    never a cartesian/nested-loop pairing of clicks x purchases."""
    df = qs["interval_join_click_purchase"](spark, SF)
    plan = P.physical_plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the event_type filters must reach both parquet scans
    filters = " ".join(P.pushed_filters(df))
    assert "event_type" in filters


def test_grouped_cms_single_data_shuffle(spark, multi_split, qs):
    """Sketch build = one data-sized exchange on (group, depth, bucket);
    probe side joins the broadcast sketch — no second data shuffle, no
    cartesian."""
    from artigraph_spark.operators.sketches import grouped_count_min_sketch
    from artigraph_spark.sources import load

    def sketch(session):
        e = load(session, SF, "events")
        return grouped_count_min_sketch(e, "event_type", "user_id", width=64, depth=4)

    sk = sketch(multi_split)
    assert P.count_exchanges(sk) == 1
    _same_rows_unshuffled(sketch(spark), sk)
    plan = P.physical_plan(qs["cms_decayed_topk"](spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastExchange" in plan  # the summary-sized sketch side


def test_bloom_dedup_broadcasts_filter_not_fact(spark, qs):
    """The bit set rides a BroadcastExchange; the batch is never
    nested-loop joined. The ONLY nested-loop joins allowed are the r8
    stamp-validation gates — one-row aggregates of the (broadcast-small)
    sentinel rows crossed into the probe frame, the sanctioned
    broadcast-singleton shape (≤2: build-side and probe-side guards)."""
    plan = P.physical_plan(qs["bloom_incremental_dedup"](spark, SF), "simple")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_stratified_split_single_stratum_shuffle(spark, qs):
    """Exact split rides the grouped bucketed row_number (r10): the sort
    exchanges key on (stratum, range-bucket) — parallelism
    strata×buckets, never one partition per stratum. More static
    exchanges than the old single stratum-keyed window (offsets branch +
    local branch + their join), but none of them colocates a whole
    stratum; the broadcast range-frame singleton is the one sanctioned
    BNLJ shape."""
    df = qs["stratified_split_exact"](spark, SF)
    plan = P.physical_plan(df, "simple")
    assert P.count_exchanges(df) <= 6
    assert "CartesianProduct" not in plan
    # the old one-partition-per-stratum sort is gone: every window
    # partitions by (stratum, bucket), never by stratum alone
    assert "partitionBy(stratum" not in plan


def test_windowed_sketch_queries_no_nested_loop(spark, qs):
    """The windowed-sketch trio and the HLL pyramid must never pair rows
    via cartesian/BNLJ — every merge is a keyed aggregate, every probe an
    equi-join (the broadcast singletons in audience overlap are the one
    legitimate BNLJ shape: single-row frames crossed into the output)."""
    for name in (
        "sliding_distinct_users",
        "sliding_quantiles_hourly",
        "sliding_cms_top_users",
        "hll_rollup_users",
    ):
        plan = P.physical_plan(qs[name](spark, SF), "simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_heavy_hitters_single_data_scan_per_pass(spark, qs):
    """Pigeonhole heavy hitters: candidate generation and the exact pass
    each scan the data once — no per-candidate rescans, no BNLJ."""
    plan = P.physical_plan(qs["heavy_hitter_users"](spark, SF), "simple")
    assert "CartesianProduct" not in plan
    # the one BNLJ is the broadcast single-row total crossed into the
    # final filter — the legitimate singleton shape; data-sized sides
    # never nested-loop (the candidate prune is a left_semi equi-join)
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    # 4 static scans: local counts (read twice — candidates + per-pid
    # totals branch the same subtree), exact pass, total. AQE's
    # ReusedExchange collapses the shared local subtree at runtime; the
    # lock only guards against per-candidate rescans (which would scale
    # with the candidate count, not stay constant).
    assert plan.count("FileScan") <= 4


def test_profile_table_two_scans_regardless_of_column_count(spark):
    """Profiler scale lock (r7): profiling N columns stays TWO data
    scans — one wide aggregate for count/nulls/min/max of every column,
    one exploded (column, digest) pass for all per-column HLLs — never
    a scan (or shuffle) per column. 10 lineitem columns here; the count
    must not move with the column list."""
    from artigraph_spark.operators.quality import profile_table
    from artigraph_spark.sources import load

    li = load(spark, SF, "lineitem")
    cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus",
    ]
    plan = P.physical_plan(profile_table(li, cols), "simple")
    assert plan.count("FileScan") == 2
    # one keyed shuffle for the HLL registers + the summary-side
    # exchanges; growing the column list must not add exchanges
    narrow = P.physical_plan(profile_table(li, cols[:2]), "simple")
    assert plan.count("Exchange") == narrow.count("Exchange")


def test_salted_join_no_extra_scans(spark, qs):
    """salted_join parity query: the salt explode/scatter must not
    duplicate scans — one lineitem scan, one orders scan — and the join
    stays an equi hash/sort-merge (no BNLJ/cartesian from the salt)."""
    plan = P.physical_plan(qs["salted_join_revenue"](spark, SF), "simple")
    assert plan.count("FileScan") == 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sorted_neighborhood_no_global_window(spark, multi_split, qs):
    """The two-phase rank must window per prefix bucket (hashpartitioning
    on __b) with the offsets broadcast — never a single-partition global
    sort — and the rank-gap pair join must stay an equi-join."""
    df = qs["sorted_neighborhood_docs"](multi_split, SF)
    plan = P.physical_plan(df, "simple")
    assert "SinglePartition" not in plan
    assert "hashpartitioning(__b" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Both sides of the rank-gap join read the offsets cut, a leaf whose
    # size Spark does not know, so the join's estimate is above
    # spark.sql.maxSinglePartitionBytes and Spark shuffles both of its
    # single-partition sides: the two exchanges left.
    _same_rows_unshuffled(qs["sorted_neighborhood_docs"](spark, SF), df, shuffles=2)


def test_chi2_and_mi_single_data_scan(spark, qs):
    # The observed-cells closed form re-reads only the CELL aggregate for
    # marginals, not the table: exactly one orders FileScan.
    for name in ("chi2_priority_status", "mi_event_type_hour"):
        df = qs[name](spark, SF)
        plan = P.physical_plan(df, "simple")
        assert plan.count("FileScan") == 1, name
        assert "CartesianProduct" not in plan, name


def test_ks_psi_one_scan_per_side(spark, multi_split, qs, monkeypatch):
    # KS/PSI cumulative walks ride bucketed_prefix_sums (r10): the
    # histogram subtree is statically duplicated under the range-frame /
    # offsets / local-window branches, but every duplicate sits behind
    # the IDENTICAL histogram shuffle exchange, so at runtime each side
    # is scanned once and the rest is ReusedExchange (the tukey/rank
    # convention; the static FileScan count is branch-arity, not IO —
    # the ×10 probes in docs/SCALE.md pin the flat runtime). Bound the
    # static count loosely and pin the hard contracts: no cartesian
    # products, and the walk itself is no longer a global
    # single-partition window over the histogram.
    # The reuse itself is a RUNTIME decision, so the single-scan
    # contract is machine-checked on the executed (post-AQE) plan: a
    # regression that genuinely re-scans a side would drop the
    # ReusedExchange nodes and fail here, not just in offline docs.
    # The bound is the invariant itself — >= 1 reuse per shared side's
    # histogram exchange (2 sides) — NOT the exact node count (3 and 4
    # at Spark 4.0: an AQE/minor-version detail, not a contract; the
    # r11 advice flagged the exact pin as flaky).
    # These counts are the bucketed arm's, pinned by patching the size
    # gate: at this fixture scale the gate picks the plain-window arm.
    from artigraph_spark.operators import _adaptive

    monkeypatch.setattr(_adaptive, "summary_sized", lambda df: False)
    df = qs["ks_price_drift"](multi_split, SF)
    plan = P.physical_plan(df, "simple")
    assert plan.count("FileScan") <= 8
    assert "CartesianProduct" not in plan
    assert P.executed_plan(df).count("ReusedExchange") >= 2
    df = qs["psi_price_drift"](multi_split, SF)
    plan = P.physical_plan(df, "simple")
    assert plan.count("FileScan") <= 10
    assert "CartesianProduct" not in plan
    assert P.executed_plan(df).count("ReusedExchange") >= 2
    # The window arm the real gate picks here: KS duplicates no branch
    # (one FileScan per side, nothing to reuse), and PSI's base histogram
    # still feeds two consumers through one reused exchange.
    monkeypatch.undo()
    df = qs["ks_price_drift"](multi_split, SF)
    plan = P.physical_plan(df, "simple")
    assert plan.count("FileScan") == 2
    assert "CartesianProduct" not in plan
    _same_rows_unshuffled(qs["ks_price_drift"](spark, SF), df)
    df = qs["psi_price_drift"](multi_split, SF)
    plan = P.physical_plan(df, "simple")
    assert plan.count("FileScan") <= 10
    assert "CartesianProduct" not in plan
    assert P.executed_plan(df).count("ReusedExchange") >= 2
    _same_rows_unshuffled(qs["psi_price_drift"](spark, SF), df)


def test_adamic_adar_equi_joins_only(spark):
    # Wedge enumeration must stay an equi-join on the middle node —
    # never a cartesian/nested-loop pairing, the 100-TB contract.
    from artigraph_spark.operators.graph import adamic_adar
    from artigraph_spark.sources import load

    li = load(spark, SF, "lineitem").select(
        "l_partkey", "l_suppkey"
    ).distinct().limit(200)
    edges = li.toDF("s", "d").filter("s < d")
    df = adamic_adar(edges, "s", "d", top_k=10, materialize=False)
    plan = P.physical_plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_g2_keywords_no_cartesian_broadcast_n(spark, qs):
    # Marginal joins are equi-joins; the scalar N rides a broadcast
    # single-row cross join (the tf_idf convention) — no real cartesian.
    df = qs["g2_keywords_source"](spark, SF)
    plan = P.physical_plan(df, "simple")
    assert "CartesianProduct" not in plan


def test_benford_single_scan(spark, qs):
    df = qs["benford_price_digits"](spark, SF)
    plan = P.physical_plan(df, "simple")
    assert plan.count("FileScan") == 1


def test_privacy_audits_single_scan_single_key_shuffle(spark, multi_split):
    """Privacy-audit scale lock: k-anonymity is one FileScan + one keyed
    exchange (map-side-combined grouped count); l-diversity is one
    FileScan with the two-phase distinct aggregation — neither may
    rescan the table or add per-class work."""
    from artigraph_spark.operators.privacy import k_anonymity, l_diversity
    from artigraph_spark.sources import load

    def audits(session):
        o = load(session, SF, "orders")
        e = load(session, SF, "events")
        return (
            k_anonymity(o, ["o_orderstatus", "o_orderpriority"], 10),
            l_diversity(e, ["event_type"], "user_id", 5),
        )

    ka_df, ld_df = audits(multi_split)
    ka = P.physical_plan(ka_df, "simple")
    assert ka.count("FileScan") == 1
    assert ka.count("Exchange") == 1
    assert "partial_count" in ka  # map-side combine before the exchange

    ld = P.physical_plan(ld_df, "simple")
    assert ld.count("FileScan") == 1
    for single, split in zip(audits(spark), (ka_df, ld_df)):
        _same_rows_unshuffled(single, split)


def test_session_window_shuffles_its_source_columns_once(spark, multi_split, qs):
    """sessionize lags the raw time column and takes the gap above the
    window: the one exchange writes the four source columns the query
    reads, with no derived micros copy of ``ts`` beside them, and the
    Window computes a single lag."""
    df = qs["window_session"](multi_split, SF)
    assert P.shuffled_columns(df) == [["event_id", "ts", "user_id", "value"]]
    assert P.derived_shuffle_columns(df) == []
    assert P.physical_plan(df, "simple").count("lag(") == 1
    _same_rows_unshuffled(qs["window_session"](spark, SF), df)


@pytest.mark.parametrize(
    "name",
    [
        "event_transitions",
        "scd2_intervals_orders",
        "window_running_agg",
        "window_range_frame",
        "percent_of_total",
        "survival_km_by_first_event",
        "survival_km_users",
    ],
)
def test_window_shuffles_ship_no_derived_copies(spark, qs, name):
    """Aliases and fixed-point window inputs are computed above the
    exchange, so no shuffle ships a column next to the plain columns it
    is computed from (tools/plan_audit.py prints the same count)."""
    assert P.derived_shuffle_columns(qs[name](spark, SF)) == []
