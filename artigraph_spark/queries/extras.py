"""Additional operator coverage: nested structs, unpivot, subqueries,
argmin/argmax, calendar functions, explode-to-rows, generated sources.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from artigraph_spark.functions import davg, oracle_davg
from artigraph_spark.queries import query
from artigraph_spark.sources import load


@query(
    "nested_struct_access",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status_from_struct,
           o_totalprice AS price_from_struct,
           (o_totalprice > 100000) AS flag_from_struct
    FROM orders
    """,
)
def nested_struct_access(spark, sf_dir):
    """Build a struct column, then project nested fields (dotted access)."""
    o = load(spark, sf_dir, "orders")
    nested = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
            (F.col("o_totalprice") > 100000).alias("flag"),
        ).alias("info"),
    )
    return nested.select(
        "o_orderkey",
        F.col("info.status").alias("status_from_struct"),
        F.col("info.price").alias("price_from_struct"),
        F.col("info.flag").alias("flag_from_struct"),
    )


@query(
    "unpivot_stack",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
    """,
)
def unpivot_stack(spark, sf_dir):
    """Unpivot (wide→long) via stack — the inverse of pivot."""
    li = load(spark, sf_dir, "lineitem")
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax) AS (measure, value)",
    )


@query(
    "in_subquery_sql",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
      AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 50)
    """,
)
def in_subquery_sql(spark, sf_dir):
    """IN / NOT IN subqueries through the SQL API (Catalyst rewrites to
    semi/anti joins — same plans as the DataFrame variants)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("x_orders")
    load(spark, sf_dir, "customer").createOrReplaceTempView("x_customer")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("x_lineitem")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM x_orders
        WHERE o_custkey IN (SELECT c_custkey FROM x_customer WHERE c_acctbal > 9000)
          AND o_orderkey NOT IN (SELECT l_orderkey FROM x_lineitem WHERE l_quantity >= 50)
        """
    )


@query(
    "scalar_subquery_filter",
    oracle=f"""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT {oracle_davg('o_totalprice')} FROM orders)
    """,
)
def scalar_subquery_filter(spark, sf_dir):
    """Filter against a computed global aggregate (scalar subquery shape;
    deterministic via fixed-point mean)."""
    o = load(spark, sf_dir, "orders")
    avg_df = o.agg(davg("o_totalprice").alias("__avg"))
    return (
        o.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("__avg"))
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "agg_argminmax",
    oracle="""
    SELECT o_orderstatus,
           arg_max(o_orderkey, o_totalprice + o_orderkey * 1e-9) AS biggest_order,
           arg_min(o_orderkey, o_totalprice - o_orderkey * 1e-9) AS smallest_order,
           max(o_totalprice) AS max_price,
           min(o_totalprice) AS min_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_argminmax(spark, sf_dir):
    """arg_max/arg_min (max_by/min_by) — the orderkey jitter makes the
    extremum unique so tie-breaking is engine-independent."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", F.col("o_totalprice") + F.col("o_orderkey") * 1e-9).alias(
            "biggest_order"
        ),
        F.min_by("o_orderkey", F.col("o_totalprice") - F.col("o_orderkey") * 1e-9).alias(
            "smallest_order"
        ),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


@query(
    "calendar_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(quarter(o_orderdate) AS BIGINT) AS q,
           strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start,
           strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start,
           CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
           CAST(dayofyear(o_orderdate) AS BIGINT) AS doy
    FROM orders
    """,
)
def calendar_functions(spark, sf_dir):
    """Quarter/week/day-of-year calendar functions (ISO week both engines)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd").alias("quarter_start"),
        F.date_format(F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd").alias("week_start"),
        F.weekofyear("o_orderdate").cast("long").alias("iso_week"),
        F.dayofyear("o_orderdate").cast("long").alias("doy"),
    )


@query(
    "explode_tokens",
    oracle="""
    SELECT doc_id,
           CAST(generate_subscripts(toks, 1) - 1 AS INTEGER) AS pos,
           unnest(toks) AS token
    FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
        FROM documents WHERE doc_id < 50
    )
    """,
)
def explode_tokens(spark, sf_dir):
    """Lateral explode with position (posexplode) — text to token rows."""
    from artigraph_spark.operators.dedup import tokens

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "token")
    )


@query(
    "range_source",
    oracle="""
    SELECT CAST(r.range AS BIGINT) AS id,
           CAST(r.range * r.range AS BIGINT) AS sq,
           CAST(r.range % 7 AS BIGINT) AS bucket
    FROM range(0, 1000) r
    """,
)
def range_source(spark, sf_dir):
    """Generated (range) source — no files; distributed id generation."""
    return spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") * F.col("id")).alias("sq"),
        (F.col("id") % 7).alias("bucket"),
    )


@query(
    "literal_inline_table",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'alpha', 1.5),
        (2, 'beta', 2.5),
        (3, 'gamma', NULL)
    ) AS t(id, name, score)
    """,
)
def literal_inline_table(spark, sf_dir):
    """Inline literal table (createDataFrame ↔ VALUES) — the StringLiteral
    storage path of the framework."""
    return spark.createDataFrame(
        [Row(id=1, name="alpha", score=1.5), Row(id=2, name="beta", score=2.5), Row(id=3, name="gamma", score=None)],
        schema="id int, name string, score double",
    )


@query(
    "union_by_name_missing",
    oracle="""
    SELECT c_nationkey AS nationkey, c_acctbal AS bal, NULL AS s_suppkey
    FROM customer WHERE c_acctbal > 9900
    UNION ALL
    SELECT s_nationkey AS nationkey, s_acctbal AS bal, s_suppkey
    FROM supplier
    """,
)
def union_by_name_missing(spark, sf_dir):
    """unionByName(allowMissingColumns=True): schema evolution across
    heterogeneous sources."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .select(F.col("c_nationkey").alias("nationkey"), F.col("c_acctbal").alias("bal"))
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.col("s_acctbal").alias("bal"), "s_suppkey"
    )
    return c.unionByName(s, allowMissingColumns=True)


@query(
    "string_agg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, '|' ORDER BY n_name) AS names,
           count(*) AS n
    FROM nation GROUP BY n_regionkey
    """,
)
def string_agg(spark, sf_dir):
    """String aggregation (listagg): order-normalized concat of group values."""
    n = load(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias("names"),
        F.count("*").alias("n"),
    )


@query(
    "percent_of_total",
    oracle="""
    SELECT o_orderstatus, o_orderkey, o_totalprice,
           o_totalprice / (CAST(SUM(CAST(floor(o_totalprice * 1048576.0) AS BIGINT))
                OVER (PARTITION BY o_orderstatus) AS DOUBLE) / 1048576.0) AS pct_of_status
    FROM orders
    """,
)
def percent_of_total(spark, sf_dir):
    """Percent-of-group-total via an unframed partition window (fixed-point
    denominator for cross-engine determinism). Repartitioned on the window
    key so ``fxp(o_totalprice)`` is computed above the exchange, which
    then ships the price once."""
    from pyspark.sql import Window as W

    from artigraph_spark.functions import DEFAULT_BITS, fxp

    o = load(spark, sf_dir, "orders").repartition("o_orderstatus")
    w = W.partitionBy("o_orderstatus")
    denom = F.sum(fxp("o_totalprice")).over(w).cast("double") / F.lit(float(1 << DEFAULT_BITS))
    return o.select(
        "o_orderstatus",
        "o_orderkey",
        "o_totalprice",
        (F.col("o_totalprice") / denom).alias("pct_of_status"),
    )


@query(
    "correlated_group_filter",
    oracle=f"""
    WITH stats AS (
        SELECT c_nationkey, {oracle_davg('c_acctbal')} AS nation_avg
        FROM customer GROUP BY c_nationkey
    )
    SELECT c.c_custkey, c.c_nationkey, c.c_acctbal, s.nation_avg
    FROM customer c JOIN stats s USING (c_nationkey)
    WHERE c.c_acctbal > s.nation_avg
    """,
)
def correlated_group_filter(spark, sf_dir):
    """Rows above their group mean (correlated-subquery shape as a
    broadcast-able self-aggregation join)."""
    c = load(spark, sf_dir, "customer")
    stats = c.groupBy("c_nationkey").agg(davg("c_acctbal").alias("nation_avg"))
    return (
        c.join(F.broadcast(stats), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal", "nation_avg")
    )


@query(
    "conditional_distinct",
    oracle="""
    SELECT l_linestatus,
           count(DISTINCT l_orderkey) FILTER (WHERE l_returnflag = 'A') AS orders_a,
           count(DISTINCT l_orderkey) FILTER (WHERE l_returnflag = 'R') AS orders_r,
           count(DISTINCT l_partkey) AS parts
    FROM lineitem GROUP BY l_linestatus
    """,
)
def conditional_distinct(spark, sf_dir):
    """Multiple filtered DISTINCT aggregates in one pass (Catalyst expands
    to a single multi-distinct aggregate)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.countDistinct(F.when(F.col("l_returnflag") == "A", F.col("l_orderkey"))).alias("orders_a"),
        F.countDistinct(F.when(F.col("l_returnflag") == "R", F.col("l_orderkey"))).alias("orders_r"),
        F.countDistinct("l_partkey").alias("parts"),
    )


@query(
    "grouped_map_pandas",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(row_number() OVER w AS INTEGER) AS ordinal,
           value - lag(value) OVER w AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def grouped_map_pandas(spark, sf_dir):
    """applyInPandas grouped-map (the UDTF-style escape hatch) computing
    per-user ordered deltas — proven bit-identical to the window-function
    formulation, so imperative per-group code can be swapped in safely."""
    from artigraph_spark.operators.grouped import grouped_ordered_delta

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = grouped_ordered_delta(e, "user_id", ["ts", "event_id"], "value")
    return out.select("event_id", "user_id", "value", "ordinal", "delta")


@query(
    "map_explode",
    oracle="""
    SELECT l_orderkey, l_linenumber, mk, mv FROM (
        SELECT l_orderkey, l_linenumber, 'qty' AS mk, l_quantity AS mv FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'disc', l_discount FROM lineitem
    )
    """,
)
def map_explode(spark, sf_dir):
    """Explode a MapType column to (key, value) rows (map → long form)."""
    li = load(spark, sf_dir, "lineitem")
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity"), F.lit("disc"), F.col("l_discount")
    )
    return li.select(
        "l_orderkey", "l_linenumber", F.explode(m).alias("mk", "mv")
    )


@query(
    "describe_summary",
    oracle=f"""
    SELECT 'l_quantity' AS col, count(l_quantity) AS n, {oracle_davg('l_quantity')} AS mean,
           min(l_quantity) AS min_v, max(l_quantity) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', count(l_extendedprice), {oracle_davg('l_extendedprice')},
           min(l_extendedprice), max(l_extendedprice)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(l_discount), {oracle_davg('l_discount')},
           min(l_discount), max(l_discount)
    FROM lineitem
    """,
)
def describe_summary(spark, sf_dir):
    """df.describe()-style per-column summary (count/mean/min/max), long form
    — the Statistics layer as a queryable report."""
    # ONE aggregate pass for every column (the profile_table shape), then
    # explode the per-column structs into report rows — a union of
    # per-column aggregates scanned the fact table once per column.
    li = load(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"__n_{c}"),
            davg(c).alias(f"__mean_{c}"),
            F.min(c).alias(f"__min_{c}"),
            F.max(c).alias(f"__max_{c}"),
        ]
    rows = F.array(*[
        F.struct(
            F.lit(c).alias("col"),
            F.col(f"__n_{c}").alias("n"),
            F.col(f"__mean_{c}").alias("mean"),
            F.col(f"__min_{c}").alias("min_v"),
            F.col(f"__max_{c}").alias("max_v"),
        )
        for c in cols
    ])
    return li.agg(*aggs).select(F.explode(rows).alias("r")).select("r.*")


def _cms_oracle_sql(width: int, depth: int, seed: int) -> str:
    """DuckDB replica of the count-min sketch: same coefficients, same
    integer arithmetic, so the ESTIMATES (not just the >= contract) match
    bit-for-bit."""
    from artigraph_spark.operators.dedup import _P, _hash_coeffs

    coeffs = _hash_coeffs(depth, seed)
    cell = "((({a} * k + {b}) % {p}) % {w})"
    cells = "\n        UNION ALL ".join(
        f"SELECT {d} AS depth_id, {cell.format(a=a, b=b, p=_P, w=width)} AS bucket FROM ev"
        for d, (a, b) in enumerate(coeffs)
    )
    probes = "\n        UNION ALL ".join(
        f"SELECT user_id, {d} AS depth_id, {cell.format(a=a, b=b, p=_P, w=width)} AS bucket FROM keys"
        for d, (a, b) in enumerate(coeffs)
    )
    return f"""
    WITH ev AS (SELECT user_id % 2147483647 AS k FROM events),
    cells AS ({cells}),
    sketch AS (SELECT depth_id, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
    keys AS (SELECT DISTINCT user_id, user_id % 2147483647 AS k FROM events),
    probes AS ({probes}),
    est AS (
        SELECT p.user_id, min(coalesce(s.cnt, 0)) AS estimate
        FROM probes p LEFT JOIN sketch s USING (depth_id, bucket)
        GROUP BY p.user_id
    ),
    exact AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY user_id)
    SELECT est.user_id, est.estimate, exact.exact_cnt,
           est.estimate >= exact.exact_cnt AS never_undercounts
    FROM est JOIN exact ON est.user_id = exact.user_id
    """


@query("count_min_contract", oracle=_cms_oracle_sql(256, 4, 42))
def count_min_contract(spark, sf_dir):
    """Count-min sketch frequency estimates for every user vs their exact
    event count. The sketch is deterministic universal-hash integer math,
    so the oracle reproduces the estimates exactly; ``never_undercounts``
    (CMS's one-sided error guarantee) must be TRUE on every row. The sketch
    itself is depth×width rows — a fixed-size summary of an unbounded
    stream, broadcast back for the point queries."""
    from artigraph_spark.operators.sketches import cms_estimate, count_min_sketch

    e = load(spark, sf_dir, "events")
    sketch = count_min_sketch(e, "user_id", width=256, depth=4, seed=42)
    keys = e.select("user_id").distinct()
    est = cms_estimate(sketch, keys, "user_id", width=256, depth=4, seed=42)
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return est.join(exact, "user_id").select(
        "user_id",
        "estimate",
        "exact_cnt",
        (F.col("estimate") >= F.col("exact_cnt")).alias("never_undercounts"),
    )


def _bloom_oracle_sql(num_bits: int, num_hashes: int, seed: int) -> str:
    """DuckDB replica of the Bloom filter: same coefficients and integer
    arithmetic, so membership decisions (including false positives) match
    bit-for-bit."""
    from artigraph_spark.operators.dedup import _P, _hash_coeffs

    coeffs = _hash_coeffs(num_hashes, seed)
    pos = "((({a} * k + {b}) % {p}) % {m})"
    member_bits = "\n        UNION ".join(
        f"SELECT {pos.format(a=a, b=b, p=_P, m=num_bits)} AS bit FROM members"
        for a, b in coeffs
    )
    probe_bits = "\n        UNION ALL ".join(
        f"SELECT custkey, {pos.format(a=a, b=b, p=_P, m=num_bits)} AS bit FROM cands"
        for a, b in coeffs
    )
    return f"""
    WITH members AS (
        SELECT c_custkey % 2147483647 AS k FROM customer WHERE c_nationkey = 3
    ),
    bits AS ({member_bits}),
    cands AS (
        SELECT DISTINCT o_custkey AS custkey, o_custkey % 2147483647 AS k FROM orders
    ),
    probes AS ({probe_bits}),
    hits AS (
        SELECT p.custkey, count(b.bit) AS n_hits
        FROM probes p LEFT JOIN bits b ON p.bit = b.bit
        GROUP BY p.custkey
    ),
    truth AS (
        SELECT DISTINCT o_custkey AS custkey,
               EXISTS (SELECT 1 FROM customer c
                       WHERE c.c_custkey = o_custkey AND c.c_nationkey = 3)
                   AS is_member
        FROM orders
    )
    SELECT h.custkey, t.is_member, h.n_hits = {num_hashes} AS in_bloom,
           (NOT t.is_member) OR h.n_hits = {num_hashes} AS no_false_negative
    FROM hits h JOIN truth t ON h.custkey = t.custkey
    """


@query("bloom_prefilter_contract", oracle=_bloom_oracle_sql(4096, 4, 7))
def bloom_prefilter_contract(spark, sf_dir):
    """Bloom-filter runtime-join-pruning contract: a filter built over the
    nation-3 customers is probed with every ordering customer. Membership
    decisions replay exactly in the oracle (deterministic universal-hash
    bits), and ``no_false_negative`` must be TRUE on every row — members
    always pass; only non-members may occasionally slip through (and are
    then removed by the real join). The deliberately small 4096-bit filter
    makes false positives plausible, proving the contract is one-sided."""
    from artigraph_spark.operators.sketches import bloom_build, bloom_prefilter

    NB, NH, SEED = 4096, 4, 7
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    members = c.filter(F.col("c_nationkey") == 3).select("c_custkey")
    bits = bloom_build(members, "c_custkey", num_bits=NB, num_hashes=NH, seed=SEED)
    cands = o.select(F.col("o_custkey").alias("custkey")).distinct()
    passed = bloom_prefilter(
        cands, "custkey", bits, num_bits=NB, num_hashes=NH, seed=SEED
    ).withColumn("__passed", F.lit(True))
    truth = cands.join(
        members.select(F.col("c_custkey").alias("custkey")).distinct()
        .withColumn("__m", F.lit(True)),
        "custkey",
        "left",
    ).select("custkey", F.coalesce("__m", F.lit(False)).alias("is_member"))
    return (
        truth.join(passed.select("custkey", "__passed"), "custkey", "left")
        .select(
            "custkey",
            "is_member",
            F.coalesce("__passed", F.lit(False)).alias("in_bloom"),
            (~F.col("is_member") | F.coalesce("__passed", F.lit(False))).alias(
                "no_false_negative"
            ),
        )
    )


_HQ_LO, _HQ_HI, _HQ_BINS = 0.0, 110000.0, 1024
_HQ_W = (_HQ_HI - _HQ_LO) / _HQ_BINS  # 107.421875 — exactly representable
_HQ_QS = [0.25, 0.5, 0.75, 0.9, 0.99]


@query(
    "quantile_sketch_contract",
    bench=True,
    oracle=f"""
    WITH hist AS (
        SELECT CASE WHEN l_extendedprice >= {_HQ_HI!r} THEN {_HQ_BINS}
                    ELSE CAST(least({float(_HQ_BINS - 1)!r}, greatest(0.0,
                         floor((l_extendedprice - {_HQ_LO!r}) / {_HQ_W!r}))) AS INT)
               END AS bin,
               count(*) AS cnt
        FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
    ), cum AS (
        SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum FROM hist
    ), total AS (
        SELECT sum(cnt) AS n FROM hist
    ), targets AS (
        -- double multiply, mirroring the sketch's IEEE rank math (a
        -- DECIMAL product here would round differently for some q)
        SELECT q, CAST(ceil(CAST(q AS DOUBLE) * n) AS BIGINT) AS target_rank
        FROM (VALUES (0.25), (0.5), (0.75), (0.9), (0.99)) t(q), total
    ), est AS (
        SELECT t.q, t.target_rank,
               CASE WHEN min(c.bin) >= {_HQ_BINS} THEN CAST('Infinity' AS DOUBLE)
                    ELSE {_HQ_LO!r} + (min(c.bin) + 1) * {_HQ_W!r} END AS estimate
        FROM targets t JOIN cum c ON c.cum >= t.target_rank
        GROUP BY t.q, t.target_rank
    )
    SELECT e.q, e.target_rank, e.estimate,
           (SELECT count(*) FROM lineitem l
            WHERE l.l_extendedprice <= e.estimate) >= e.target_rank AS covered
    FROM est e
    """,
)
def quantile_sketch_contract(spark, sf_dir):
    """Fixed-bin quantile sketch over lineitem prices: estimates for five
    quantiles, each the upper edge of the first histogram bin whose
    cumulative count reaches ceil(q·n). The oracle replays the identical
    bin math — double-space clamp, overflow bin at/above hi, IEEE-double
    rank product — and ``covered`` asserts the sketch's rank guarantee: at
    least target_rank values sit at or below every estimate. (The coverage
    recount is verification-only; the sketch itself never rescans data
    after its single groupBy(bin).) Bin width 107.421875 is exactly
    representable, so edge arithmetic is bit-identical across engines."""
    from artigraph_spark.operators.sketches import histogram_quantiles

    li = load(spark, sf_dir, "lineitem")
    est = histogram_quantiles(
        li, "l_extendedprice", _HQ_LO, _HQ_HI, _HQ_BINS, _HQ_QS
    )
    # Conditional count over the broadcast cross join (NOT filter+groupBy:
    # an estimate below the column minimum must yield a covered=false row,
    # not a vanished group).
    counts = (
        li.select("l_extendedprice")
        .crossJoin(F.broadcast(est))
        .groupBy("q", "target_rank", "estimate")
        .agg(
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col("estimate"), 1).otherwise(0)
            ).alias("__le")
        )
    )
    return counts.select(
        "q",
        "target_rank",
        "estimate",
        (F.col("__le") >= F.col("target_rank")).alias("covered"),
    )


def _hll_mix_sql(expr: str, mix_seed: int) -> str:
    """DuckDB replica of sketches._mix31 — ONE definition shared by the
    grouped and ungrouped oracle builders, because a drifted copy silently
    desynchronizes an oracle from the Spark mixer."""
    from artigraph_spark.operators.dedup import _hash_coeffs
    from artigraph_spark.operators.sketches import _P31

    x = expr
    for i, (a, b) in enumerate(_hash_coeffs(3, mix_seed)):
        x = f"(({a} * {x} + {b}) % {_P31})"
        if i < 2:
            shift = 1 << (15 - 2 * i)
            x = f"xor({x}, CAST(floor({x} / {shift}) AS BIGINT))"
    return x


def _hll_rho_branches_sql() -> str:
    """DuckDB replica of sketches._hll_rho's rank chain (shared, as above)."""
    from artigraph_spark.operators.sketches import _HLL_MAX_RHO

    return " ".join(
        f"WHEN w % {1 << (t + 1)} = {1 << t} THEN {t + 1}"
        for t in range(_HLL_MAX_RHO - 1)
    )


def _hll_alpha_m2(m: int) -> float:
    """α_m · m² — the raw-estimator constant, shared with both oracles."""
    return (0.7213 / (1.0 + 1.079 / m)) * m * m


def _hll_oracle_sql(m: int, seed: int) -> str:
    """DuckDB replica of the HLL sketch and raw estimator: same two-seed
    avalanche mixer, same trailing-zero rank chain, same exact-integer
    harmonic sum — registers and estimate replay bit-for-bit."""
    from artigraph_spark.operators.sketches import _HLL_MAX_RHO

    mix_sql = _hll_mix_sql
    alpha_m2 = _hll_alpha_m2(m)
    big = 1 << _HLL_MAX_RHO
    rho_branches = _hll_rho_branches_sql()
    return f"""
    WITH keyed AS (
        SELECT l_orderkey % 2147483647 AS k FROM lineitem
        WHERE l_orderkey IS NOT NULL
    ), regs AS (
        SELECT {mix_sql('k', seed)} % {m} AS register,
               {mix_sql('k', seed + 12)} AS w
        FROM keyed
    ), ranked AS (
        SELECT register,
               CASE WHEN w = 0 THEN {_HLL_MAX_RHO} {rho_branches}
                    ELSE {_HLL_MAX_RHO} END AS rho
        FROM regs
    ), sk AS (
        SELECT register, max(rho) AS max_rho FROM ranked GROUP BY register
    ), agg AS (
        SELECT coalesce(SUM(CAST(pow(2.0, {_HLL_MAX_RHO} - max_rho) AS BIGINT)), 0)
                   AS present,
               count(*) AS nreg
        FROM sk
    ), est AS (
        SELECT CAST({alpha_m2!r} AS DOUBLE) * CAST({float(big)!r} AS DOUBLE)
               / (present + ({m} - nreg) * {big}) AS estimate
        FROM agg
    ), ex AS (
        SELECT count(DISTINCT l_orderkey) AS exact_distinct FROM lineitem
    )
    SELECT {m} AS m, ex.exact_distinct,
           round(est.estimate, 6) AS hll_estimate_r,
           abs(est.estimate / ex.exact_distinct - 1.0) < 0.15 AS within_15pct
    FROM est, ex
    """


@query("hll_contract", oracle=_hll_oracle_sql(1024, 11))
def hll_contract(spark, sf_dir):
    """HyperLogLog distinct-count contract over lineitem order keys: the
    1024-register sketch's raw estimate is replayed exactly by the oracle
    (deterministic hash, modulo-arithmetic rank chain, exact-integer
    harmonic sum) and must land within 15% of the true distinct count —
    the standard-error bound for m=1024 is ~3.25%, so the margin is wide.
    The sketch is a ≤1024-row summary of the scan; merging snapshots is
    groupBy(register).max."""
    from artigraph_spark.operators.sketches import hll_estimate, hll_sketch

    li = load(spark, sf_dir, "lineitem")
    sk = hll_sketch(li, "l_orderkey", m=1024, seed=11)
    est = hll_estimate(sk, m=1024)
    exact = li.agg(F.countDistinct("l_orderkey").alias("exact_distinct"))
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            F.lit(1024).alias("m"),
            "exact_distinct",
            F.round("estimate", 6).alias("hll_estimate_r"),
            (
                F.abs(F.col("estimate") / F.col("exact_distinct") - 1.0) < 0.15
            ).alias("within_15pct"),
        )
    )


_GQ_LO, _GQ_HI, _GQ_BINS = 0.0, 512.0, 512
_GQ_W = (_GQ_HI - _GQ_LO) / _GQ_BINS  # 1.0 — exactly representable


@query(
    "grouped_quantiles_events",
    oracle=f"""
    WITH hist AS (
        SELECT event_type,
               CASE WHEN value >= {_GQ_HI!r} THEN {_GQ_BINS}
                    ELSE CAST(least({float(_GQ_BINS - 1)!r}, greatest(0.0,
                         floor((value - {_GQ_LO!r}) / {_GQ_W!r}))) AS INT)
               END AS bin,
               count(*) AS cnt
        FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        GROUP BY 1, 2
    ), cum AS (
        SELECT event_type, bin, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
        FROM hist
    ), totals AS (
        SELECT event_type, sum(cnt) AS n FROM hist GROUP BY event_type
    ), targets AS (
        SELECT t.event_type, q,
               CAST(ceil(CAST(q AS DOUBLE) * t.n) AS BIGINT) AS target_rank
        FROM totals t, (VALUES (0.5), (0.9), (0.95)) v(q)
    ), est AS (
        SELECT t.event_type, t.q, t.target_rank,
               CASE WHEN min(c.bin) >= {_GQ_BINS} THEN CAST('Infinity' AS DOUBLE)
                    ELSE {_GQ_LO!r} + (min(c.bin) + 1) * {_GQ_W!r} END AS estimate
        FROM targets t JOIN cum c
          ON c.event_type = t.event_type AND c.cum >= t.target_rank
        GROUP BY t.event_type, t.q, t.target_rank
    )
    SELECT event_type, q, target_rank, estimate FROM est
    """,
)
def grouped_quantiles_events(spark, sf_dir):
    """Per-event-type p50/p90/p95 of the value column from per-group
    fixed-bin histograms — the grouped quantile sketch, replayed exactly by
    the oracle (1.0-wide bins make every edge arithmetic step a small
    integer in double). One data shuffle; the cumulative window partitions
    by group over ≤513 rows per group."""
    from artigraph_spark.operators.sketches import grouped_histogram_quantiles

    e = load(spark, sf_dir, "events")
    return grouped_histogram_quantiles(
        e, "event_type", "value", _GQ_LO, _GQ_HI, _GQ_BINS, [0.5, 0.9, 0.95]
    )


def _grouped_hll_oracle_sql(m: int, seed: int) -> str:
    """DuckDB replica of the grouped HLL (distinct customers per order
    priority): identical mixer/rank/harmonic-sum chain as the ungrouped
    oracle (shared helpers above), with the group key carried through
    every stage."""
    from artigraph_spark.operators.sketches import _HLL_MAX_RHO

    mix_sql = _hll_mix_sql
    alpha_m2 = _hll_alpha_m2(m)
    big = 1 << _HLL_MAX_RHO
    rho_branches = _hll_rho_branches_sql()
    return f"""
    WITH keyed AS (
        SELECT o_orderpriority AS g, o_custkey % 2147483647 AS k FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderpriority IS NOT NULL
    ), regs AS (
        SELECT g, {mix_sql('k', seed)} % {m} AS register,
               {mix_sql('k', seed + 12)} AS w
        FROM keyed
    ), ranked AS (
        SELECT g, register,
               CASE WHEN w = 0 THEN {_HLL_MAX_RHO} {rho_branches}
                    ELSE {_HLL_MAX_RHO} END AS rho
        FROM regs
    ), sk AS (
        SELECT g, register, max(rho) AS max_rho FROM ranked GROUP BY g, register
    ), agg AS (
        SELECT g,
               SUM(CAST(pow(2.0, {_HLL_MAX_RHO} - max_rho) AS BIGINT)) AS present,
               count(*) AS nreg
        FROM sk GROUP BY g
    ), est AS (
        SELECT g, CAST({alpha_m2!r} AS DOUBLE) * CAST({float(big)!r} AS DOUBLE)
               / (present + ({m} - nreg) * {big}) AS estimate
        FROM agg
    ), ex AS (
        SELECT o_orderpriority AS g, count(DISTINCT o_custkey) AS exact_distinct
        FROM orders GROUP BY o_orderpriority
    )
    SELECT est.g AS priority, ex.exact_distinct,
           round(est.estimate, 6) AS hll_estimate_r,
           abs(est.estimate / ex.exact_distinct - 1.0) < 0.2 AS within_20pct
    FROM est JOIN ex ON ex.g = est.g
    """


@query("hll_by_group", oracle=_grouped_hll_oracle_sql(256, 11), bench=True)
def hll_by_group(spark, sf_dir):
    """Per-group HLL contract: approximate distinct customers per order
    priority from one pass (256 registers per group), replayed exactly by
    the oracle and compared against the exact per-group distinct. The
    within_20pct flag is ~3σ for m=256 at the gate SF (n/m≈5); at very
    small SFs the raw estimator's low-cardinality bias can flip it, and
    the oracle computes the identical flag either way."""
    from artigraph_spark.operators.sketches import (
        grouped_hll_estimate,
        grouped_hll_sketch,
    )

    o = load(spark, sf_dir, "orders")
    sk = grouped_hll_sketch(o, "o_orderpriority", "o_custkey", m=256, seed=11)
    est = grouped_hll_estimate(sk, "o_orderpriority", m=256)
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    return (
        est.join(
            exact.withColumnRenamed("o_orderpriority", "__g"),
            F.col("__g") == F.col("o_orderpriority"),
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            "exact_distinct",
            F.round("estimate", 6).alias("hll_estimate_r"),
            (
                F.abs(F.col("estimate") / F.col("exact_distinct") - 1.0) < 0.2
            ).alias("within_20pct"),
        )
    )


def _grouped_cms_oracle_sql(width: int, depth: int, seed: int) -> str:
    """DuckDB replica of the grouped count-min sketch (per-event-type user
    frequencies): same universal-hash cells as `_cms_oracle_sql` with the
    group key carried through build, probe, and estimate."""
    from artigraph_spark.operators.dedup import _P, _hash_coeffs

    coeffs = _hash_coeffs(depth, seed)
    cell = "((({a} * k + {b}) % {p}) % {w})"
    cells = "\n        UNION ALL ".join(
        f"SELECT g, {d} AS depth_id, "
        f"{cell.format(a=a, b=b, p=_P, w=width)} AS bucket FROM ev"
        for d, (a, b) in enumerate(coeffs)
    )
    probes = "\n        UNION ALL ".join(
        f"SELECT g, user_id, {d} AS depth_id, "
        f"{cell.format(a=a, b=b, p=_P, w=width)} AS bucket FROM keys"
        for d, (a, b) in enumerate(coeffs)
    )
    return f"""
    WITH ev AS (
        SELECT event_type AS g, user_id % 2147483647 AS k FROM events
        WHERE event_type IS NOT NULL
    ),
    cells AS ({cells}),
    sketch AS (
        SELECT g, depth_id, bucket, CAST(count(*) AS BIGINT) AS cnt
        FROM cells GROUP BY 1, 2, 3
    ),
    keys AS (
        SELECT DISTINCT event_type AS g, user_id, user_id % 2147483647 AS k
        FROM events WHERE event_type IS NOT NULL
    ),
    probes AS ({probes}),
    est AS (
        SELECT p.g, p.user_id, min(coalesce(s.cnt, 0)) AS estimate
        FROM probes p
        LEFT JOIN sketch s ON p.g = s.g
            AND p.depth_id = s.depth_id AND p.bucket = s.bucket
        GROUP BY p.g, p.user_id
    ),
    exact AS (
        SELECT event_type AS g, user_id, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT est.g AS event_type, est.user_id, est.estimate, exact.exact_cnt,
           est.estimate >= exact.exact_cnt AS never_undercounts
    FROM est JOIN exact ON est.g = exact.g AND est.user_id = exact.user_id
    """


@query("grouped_cms_contract", oracle=_grouped_cms_oracle_sql(128, 4, 42))
def grouped_cms_contract(spark, sf_dir):
    """Per-group count-min contract: for every (event_type, user) pair the
    grouped-sketch estimate vs the exact pair count; the one-sided
    guarantee (`never_undercounts`) must hold per row within each group's
    own sketch. 128-wide cells make collisions (estimate > exact) actually
    occur at the gate SF, so the oracle is exercising the estimator, not
    an identity. ONE data shuffle builds all five sketches at once."""
    from artigraph_spark.operators.sketches import (
        grouped_cms_estimate,
        grouped_count_min_sketch,
    )

    e = load(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    sk = grouped_count_min_sketch(
        e, "event_type", "user_id", width=128, depth=4, seed=42
    )
    keys = e.select("event_type", "user_id").distinct()
    est = grouped_cms_estimate(
        sk, keys, "event_type", "user_id", width=128, depth=4, seed=42
    )
    exact = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    return est.join(exact, ["event_type", "user_id"]).select(
        "event_type",
        "user_id",
        "estimate",
        "exact_cnt",
        (F.col("estimate") >= F.col("exact_cnt")).alias("never_undercounts"),
    )


# Decayed-CMS fixture constants: reference instant just past the fixture's
# last event (events span 2024-01-01..30), 48 h half-life, 2^40 unit weight.
_DCMS_REF = 1706659200  # 2024-01-31 00:00:00 UTC
_DCMS_HL = 172800
_DCMS_BITS = 40


def _decayed_cms_oracle_sql(width: int, depth: int, seed: int) -> str:
    """DuckDB replica of the time-decayed grouped CMS top-k: identical
    fixed-point dyadic weights (`operators.sketches.decay_weight`), cells,
    and tie-broken ranking, so the whole leaderboard matches exactly."""
    from artigraph_spark.operators.dedup import _P, _hash_coeffs

    coeffs = _hash_coeffs(depth, seed)
    cell = "((({a} * k + {b}) % {p}) % {w})"
    cells = "\n        UNION ALL ".join(
        f"SELECT g, w, {d} AS depth_id, "
        f"{cell.format(a=a, b=b, p=_P, w=width)} AS bucket FROM ev"
        for d, (a, b) in enumerate(coeffs)
    )
    probes = "\n        UNION ALL ".join(
        f"SELECT g, user_id, {d} AS depth_id, "
        f"{cell.format(a=a, b=b, p=_P, w=width)} AS bucket FROM keys"
        for d, (a, b) in enumerate(coeffs)
    )
    return f"""
    WITH aged AS (
        SELECT event_type AS g, user_id,
               CAST(floor(({_DCMS_REF} - floor(epoch(ts)))
                          / {float(_DCMS_HL)!r}) AS BIGINT) AS raw_steps
        FROM events WHERE event_type IS NOT NULL
    ),
    ev AS (
        -- NULL raw_steps (NULL ts) weighs 0, mirroring decay_weight
        SELECT g, user_id % 2147483647 AS k,
               CASE WHEN raw_steps IS NULL THEN 0
                    WHEN GREATEST(raw_steps, 0) > {_DCMS_BITS} THEN 0
                    ELSE CAST(power(2.0,
                              {_DCMS_BITS} - GREATEST(raw_steps, 0)) AS BIGINT)
               END AS w
        FROM aged
    ),
    cells AS ({cells}),
    sketch AS (
        SELECT g, depth_id, bucket, CAST(SUM(w) AS BIGINT) AS cnt
        FROM cells GROUP BY 1, 2, 3
    ),
    keys AS (
        SELECT DISTINCT event_type AS g, user_id, user_id % 2147483647 AS k
        FROM events WHERE event_type IS NOT NULL
    ),
    probes AS ({probes}),
    est AS (
        SELECT p.g, p.user_id, min(coalesce(s.cnt, 0)) AS estimate
        FROM probes p
        LEFT JOIN sketch s ON p.g = s.g
            AND p.depth_id = s.depth_id AND p.bucket = s.bucket
        GROUP BY p.g, p.user_id
    ),
    ranked AS (
        SELECT g, user_id, estimate,
               ROW_NUMBER() OVER (PARTITION BY g
                                  ORDER BY estimate DESC, user_id) AS rnk
        FROM est
    )
    SELECT g AS event_type, rnk, user_id, estimate AS decayed_estimate
    FROM ranked WHERE rnk <= 3
    """


@query("cms_decayed_topk", oracle=_decayed_cms_oracle_sql(256, 4, 42), bench=True)
def cms_decayed_topk(spark, sf_dir):
    """Time-decayed top-3 users per event type from per-group count-min
    sketches with exponentially-decayed fixed-point weights — the
    bounded-memory "trending keys per group" shape (state: groups x depth
    x width cells, independent of stream length or key cardinality).
    48 h half-life against a reference instant just past the fixture's
    last event; weights are exact dyadic integers so the sketch keeps the
    CMS never-undercount guarantee over the true decayed sums AND the
    DuckDB oracle replays the exact leaderboard, ties broken by user_id."""
    from pyspark.sql import Window

    from artigraph_spark.operators.sketches import (
        decay_weight,
        grouped_cms_estimate,
        grouped_count_min_sketch,
    )

    e = load(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    sk = grouped_count_min_sketch(
        e,
        "event_type",
        "user_id",
        width=256,
        depth=4,
        seed=42,
        weight=decay_weight("ts", _DCMS_REF, _DCMS_HL, _DCMS_BITS),
    )
    keys = e.select("event_type", "user_id").distinct()
    est = grouped_cms_estimate(
        sk, keys, "event_type", "user_id", width=256, depth=4, seed=42
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("estimate").desc(), F.col("user_id")
    )
    return (
        est.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "event_type", "rnk", "user_id", F.col("estimate").alias("decayed_estimate")
        )
    )


def _cms_join_size_oracle_sql(width: int, depth: int, seed: int) -> str:
    """DuckDB replica of the CMS inner-product join-size estimate over
    orders⋈lineitem on the order key, plus the exact cardinality."""
    from artigraph_spark.operators.dedup import _P, _hash_coeffs

    coeffs = _hash_coeffs(depth, seed)
    cell = "((({a} * k + {b}) % {p}) % {w})"
    o_cells = "\n        UNION ALL ".join(
        f"SELECT {d} AS depth_id, "
        f"{cell.format(a=a, b=b, p=_P, w=width)} AS bucket FROM ok"
        for d, (a, b) in enumerate(coeffs)
    )
    l_cells = "\n        UNION ALL ".join(
        f"SELECT {d} AS depth_id, "
        f"{cell.format(a=a, b=b, p=_P, w=width)} AS bucket FROM lk"
        for d, (a, b) in enumerate(coeffs)
    )
    return f"""
    WITH ok AS (SELECT o_orderkey % 2147483647 AS k FROM orders),
    lk AS (SELECT l_orderkey % 2147483647 AS k FROM lineitem),
    oc AS ({o_cells}),
    lc AS ({l_cells}),
    sko AS (SELECT depth_id, bucket, CAST(count(*) AS BIGINT) AS ca
            FROM oc GROUP BY 1, 2),
    skl AS (SELECT depth_id, bucket, CAST(count(*) AS BIGINT) AS cb
            FROM lc GROUP BY 1, 2),
    shared AS (
        SELECT sko.depth_id, CAST(SUM(ca * cb) AS BIGINT) AS est
        FROM sko JOIN skl USING (depth_id, bucket)
        GROUP BY sko.depth_id
    ),
    -- depths with no shared buckets prove disjointness: they contribute 0
    -- to the min, mirroring operators.sketches.cms_inner_product
    per_depth AS (
        SELECT coalesce(shared.est, 0) AS est
        FROM (SELECT DISTINCT depth_id FROM sko) d
        LEFT JOIN shared USING (depth_id)
    ),
    est AS (
        SELECT CAST(coalesce(min(est), 0) AS BIGINT) AS join_size_est
        FROM per_depth
    ),
    exact AS (
        SELECT CAST(count(*) AS BIGINT) AS exact_size
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT est.join_size_est, exact.exact_size,
           est.join_size_est >= exact.exact_size AS never_underestimates
    FROM est, exact
    """


@query("cms_join_size", oracle=_cms_join_size_oracle_sql(256, 4, 42))
def cms_join_size(spark, sf_dir):
    """Join-cardinality estimation from sketches alone: CMS inner product
    over the orders and lineitem order-key sketches vs the exact
    |orders⋈lineitem|. The estimate joins two depth×width summaries —
    the optimizer's shuffle-sizing trick without rescanning either table
    — and can never underestimate (every true pair shares a cell;
    collisions only add), which the oracle-replayed flag locks."""
    from artigraph_spark.operators.sketches import (
        cms_inner_product,
        count_min_sketch,
    )

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    sko = count_min_sketch(o, "o_orderkey", width=256, depth=4, seed=42)
    skl = count_min_sketch(li, "l_orderkey", width=256, depth=4, seed=42)
    est = cms_inner_product(sko, skl)
    exact = o.join(li, F.col("o_orderkey") == F.col("l_orderkey")).agg(
        F.count(F.lit(1)).alias("exact_size")
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "join_size_est",
        "exact_size",
        (F.col("join_size_est") >= F.col("exact_size")).alias(
            "never_underestimates"
        ),
    )


@query(
    "zorder_cluster_keys",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
    ), keyed AS (
        SELECT pk, sk,
               (
    """
    + "\n             + ".join(
        f"(((pk >> {i}) & 1) << {2 * i}) + (((sk >> {i}) & 1) << {2 * i + 1})"
        for i in range(16)
    )
    + """
               ) AS zkey
        FROM pairs
    )
    SELECT pk, sk, zkey FROM keyed
    ORDER BY zkey, pk, sk LIMIT 300
    """,
)
def zorder_cluster_keys(spark, sf_dir):
    """Z-order (Morton) layout keys over the (part, supplier) co-purchase
    pairs: the first 300 pairs in Z-curve order — the clustering a
    lakehouse writer would `repartitionByRange(zkey).sortWithin` before
    landing files, so min/max stats prune scans on EITHER key. Pure
    integer shifts replayed bit-for-bit by the oracle."""
    from artigraph_spark.functions import zorder_key

    li = load(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).distinct()
    keyed = pairs.withColumn(
        "zkey", zorder_key(F.col("pk"), F.col("sk"), bits=16)
    )
    return keyed.orderBy("zkey", "pk", "sk").limit(300)


def _sliding_hll_oracle_sql(m: int, seed: int, window: int) -> str:
    """DuckDB replica of the trailing-window HLL distinct-user estimates:
    identical mixer/rank/merge/harmonic-sum chain, per trailing window."""
    from artigraph_spark.operators.sketches import _HLL_MAX_RHO

    mix_sql = _hll_mix_sql
    alpha_m2 = _hll_alpha_m2(m)
    big = 1 << _HLL_MAX_RHO
    rho_branches = _hll_rho_branches_sql()
    return f"""
    WITH keyed AS (
        SELECT CAST(floor((floor(epoch(ts)) - 1704067200) / 3600.0) AS BIGINT) AS b,
               user_id % 2147483647 AS k, user_id
        FROM events WHERE user_id IS NOT NULL
    ), regs AS (
        SELECT b, {mix_sql('k', seed)} % {m} AS register,
               {mix_sql('k', seed + 12)} AS w
        FROM keyed
    ), ranked AS (
        SELECT b, register,
               CASE WHEN w = 0 THEN {_HLL_MAX_RHO} {rho_branches}
                    ELSE {_HLL_MAX_RHO} END AS rho
        FROM regs
    ), hourly AS (
        SELECT b, register, max(rho) AS max_rho FROM ranked GROUP BY 1, 2
    ), present AS (SELECT DISTINCT b FROM hourly),
    contrib AS (
        SELECT p.b AS bucket, h.register, h.max_rho
        FROM hourly h JOIN present p ON p.b BETWEEN h.b AND h.b + {window - 1}
    ), merged AS (
        SELECT bucket, register, max(max_rho) AS max_rho
        FROM contrib GROUP BY 1, 2
    ), agg AS (
        SELECT bucket,
               CAST(SUM(CAST(pow(2.0, {_HLL_MAX_RHO} - max_rho) AS BIGINT)) AS BIGINT)
                   AS present_sum,
               CAST(count(*) AS BIGINT) AS nreg
        FROM merged GROUP BY 1
    ), est AS (
        SELECT bucket, CAST({alpha_m2!r} AS DOUBLE) * CAST({float(big)!r} AS DOUBLE)
               / (present_sum + ({m} - nreg) * {big}) AS estimate
        FROM agg
    ), exact AS (
        SELECT p.b AS bucket, CAST(count(DISTINCT k2.user_id) AS BIGINT)
               AS exact_distinct
        FROM present p JOIN keyed k2 ON k2.b BETWEEN p.b - {window - 1} AND p.b
        GROUP BY 1
    )
    SELECT est.bucket, round(est.estimate, 6) AS hll_estimate_r,
           exact.exact_distinct,
           round(est.estimate / exact.exact_distinct, 6) AS ratio_r
    FROM est JOIN exact USING (bucket)
    """


@query("sliding_distinct_users", oracle=_sliding_hll_oracle_sql(256, 11, 24), bench=True)
def sliding_distinct_users(spark, sf_dir):
    """Trailing-24 h distinct users per hour from merged hourly HLL
    sketches — the sliding-cardinality shape that re-summarizes
    summaries instead of re-scanning data (per-answer work O(window·m);
    one data pass total; the hourly sketches are exactly the state
    ``streaming.sketch_state_sink`` maintains). Estimates and the
    est/exact ratio are oracle-replayed exactly; at the fixture's ~150
    users the raw estimator runs in its small-cardinality regime, so the
    honest accuracy measure is the replayed ratio column, not a pass
    flag."""
    from artigraph_spark.operators.sketches import sliding_hll_estimates

    e = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    bucket = F.floor(
        (F.unix_timestamp(F.col("ts")) - F.lit(1704067200)) / F.lit(3600.0)
    ).cast("long")
    est = sliding_hll_estimates(
        e, bucket, "user_id", window_buckets=24, m=256, seed=11
    )
    # r14: dedup (bucket, user) BEFORE the x24 window explode — the
    # exact-distinct answer only needs each (hour, user) pair once, so
    # deduping first shrinks the explode input (and the countDistinct
    # expand behind it) by the per-hour repeat factor: at 100 TB event
    # volume that factor is the average events-per-user-per-hour, at the
    # sf0.1 fixture it is ~1.05 (measured neutral locally, same values).
    keyed = e.select(bucket.alias("__b"), "user_id").distinct()
    present = keyed.select(F.col("__b").alias("bucket")).distinct()
    contrib = keyed.select(
        F.explode(
            F.sequence(F.col("__b"), F.col("__b") + F.lit(23))
        ).alias("bucket"),
        "user_id",
    )
    # present is calendar-bounded (one row per hour with data — ~9 K
    # rows/year at ANY data scale), but its Catalyst estimate is
    # aggregate-input-sized, so at real event volumes the planner would
    # flip this semi-join to a shuffle of the x24-exploded frame (the
    # biggest frame in the query). Pin the broadcast (guide §3.1).
    exact = (
        contrib.join(F.broadcast(present), "bucket", "left_semi")
        .groupBy("bucket")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return (
        est.join(exact, "bucket")
        .select(
            "bucket",
            F.round("estimate", 6).alias("hll_estimate_r"),
            "exact_distinct",
            F.round(F.col("estimate") / F.col("exact_distinct"), 6).alias(
                "ratio_r"
            ),
        )
    )


@query(
    "constraint_report",
    bench=True,
    oracle="""
    WITH rowagg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
               CAST(SUM(CASE WHEN l_discount IS NULL OR l_discount < 0.0
                             OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
               CAST(SUM(CASE WHEN l_returnflag IS NULL
                             OR l_returnflag NOT IN ('A', 'N', 'R')
                        THEN 1 ELSE 0 END) AS BIGINT) AS v2,
               CAST(SUM(CASE WHEN NOT (l_extendedprice > 0.0) THEN 1 ELSE 0 END)
                    AS BIGINT) AS v3
        FROM lineitem
    ), uniq AS (
        SELECT CAST(count(*) AS BIGINT) AS groups,
               CAST(coalesce(SUM(k - 1), 0) AS BIGINT) AS dupes
        FROM (SELECT count(*) AS k FROM lineitem
              GROUP BY l_orderkey, l_linenumber)
    ), refi AS (
        SELECT CAST(count(*) AS BIGINT) AS total,
               CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS dangling
        FROM (SELECT DISTINCT l_orderkey FROM lineitem
              WHERE l_orderkey IS NOT NULL) l
        LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
          ON l.l_orderkey = o.o_orderkey
    )
    SELECT chk AS "check", metric, violations, violations = 0 AS passed
    FROM (
        SELECT 'not_null(l_orderkey)' AS chk, n AS metric, v0 AS violations
        FROM rowagg
        UNION ALL
        SELECT 'in_range(l_discount,0.0,0.1)', n, v1 FROM rowagg
        UNION ALL
        SELECT 'accepted_values(l_returnflag)', n, v2 FROM rowagg
        UNION ALL
        SELECT 'positive_price', n, v3 FROM rowagg
        UNION ALL
        SELECT 'unique(l_orderkey,l_linenumber)', groups, dupes FROM uniq
        UNION ALL
        SELECT 'referential(l_orderkey->o_orderkey)', total, dangling FROM refi
    )
    """,
)
def constraint_report(spark, sf_dir):
    """Declarative data-quality suite over lineitem: four row-local checks
    compiled into ONE aggregate pass (null, range, accepted values,
    custom predicate) plus uniqueness surplus and referential integrity
    against orders — the deequ-style ingest gate, with every count
    oracle-replayed. See ``operators.quality``."""
    from artigraph_spark.operators.quality import (
        accepted_values,
        check_constraints,
        in_range,
        not_null,
        referential,
        satisfies,
        unique,
    )

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return check_constraints(
        li,
        [
            not_null("l_orderkey"),
            in_range("l_discount", 0.0, 0.1),
            accepted_values("l_returnflag", ["A", "N", "R"]),
            satisfies("positive_price", ~(F.col("l_extendedprice") > 0.0)),
            unique("l_orderkey", "l_linenumber"),
            referential("l_orderkey", o, "o_orderkey"),
        ],
    )


def _profile_oracle_sql(m: int, seed: int) -> str:
    """DuckDB replica of the orders table profile: per-column stats from
    one scan shape plus the grouped-HLL distinct estimates over
    SHA-prefix content keys."""
    from artigraph_spark.operators.sketches import _HLL_MAX_RHO

    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_orderdate",
    ]
    mix_sql = _hll_mix_sql
    alpha_m2 = _hll_alpha_m2(m)
    big = 1 << _HLL_MAX_RHO
    rho_branches = _hll_rho_branches_sql()
    ck = (
        "CAST(('0x' || substr(sha256(CAST({c} AS VARCHAR)), 1, 15)) AS BIGINT)"
        " % 2147483647"
    )
    keyed = "\n        UNION ALL ".join(
        f"SELECT '{c}' AS g, {ck.format(c=c)} AS k FROM orders"
        f" WHERE {c} IS NOT NULL"
        for c in cols
    )
    stats = "\n        UNION ALL ".join(
        f"SELECT '{c}' AS g, CAST(count(*) AS BIGINT) AS n,"
        f" CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,"
        f" CAST(min({c}) AS VARCHAR) AS min_s,"
        f" CAST(max({c}) AS VARCHAR) AS max_s FROM orders"
        for c in cols
    )
    return f"""
    WITH keyed AS ({keyed}),
    regs AS (
        SELECT g, {mix_sql('k', seed)} % {m} AS register,
               {mix_sql('k', seed + 12)} AS w
        FROM keyed
    ), ranked AS (
        SELECT g, register,
               CASE WHEN w = 0 THEN {_HLL_MAX_RHO} {rho_branches}
                    ELSE {_HLL_MAX_RHO} END AS rho
        FROM regs
    ), sk AS (
        SELECT g, register, max(rho) AS max_rho FROM ranked GROUP BY 1, 2
    ), agg AS (
        SELECT g,
               CAST(SUM(CAST(pow(2.0, {_HLL_MAX_RHO} - max_rho) AS BIGINT)) AS BIGINT)
                   AS present,
               CAST(count(*) AS BIGINT) AS nreg
        FROM sk GROUP BY 1
    ), raw AS (
        SELECT g, CAST({alpha_m2!r} AS DOUBLE) * CAST({float(big)!r} AS DOUBLE)
               / (present + ({m} - nreg) * {big}) AS e, {m} - nreg AS empty
        FROM agg
    ), est AS (
        SELECT g, round(CASE WHEN e <= 2.5 * {m} AND empty > 0
                        THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / empty)
                        ELSE e END, 6) AS distinct_est
        FROM raw
    ), stats AS ({stats})
    SELECT stats.g AS "column", stats.n, stats.nulls,
           est.distinct_est, stats.min_s, stats.max_s
    FROM stats LEFT JOIN est ON est.g = stats.g
    """


@query("profile_orders", oracle=_profile_oracle_sql(256, 11))
def profile_orders(spark, sf_dir):
    """One-pass-per-stage column profile of orders (count / nulls /
    HLL distinct estimate / typed min/max): the ingest-time table report
    from ``operators.quality.profile_table``, every number — including
    the per-column HLL estimates over SHA-prefix content keys —
    oracle-replayed exactly. Int/string/date columns only (double
    stringification differs cross-engine; FIXTURES.md)."""
    from artigraph_spark.operators.quality import profile_table

    o = load(spark, sf_dir, "orders")
    return profile_table(
        o,
        ["o_orderkey", "o_custkey", "o_orderstatus",
         "o_orderpriority", "o_orderdate"],
        m=256,
        seed=11,
    )


@query(
    "heavy_hitter_users",
    oracle="""
    WITH data AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
    total AS (SELECT CAST(count(*) AS BIGINT) AS t FROM data),
    exact AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM data GROUP BY user_id
    )
    SELECT exact.user_id, exact.exact_cnt
    FROM exact, total
    WHERE exact.exact_cnt * 1000000 >= 7000 * total.t
    """,
)
def heavy_hitter_users(spark, sf_dir):
    """Exact heavy hitters (users with ≥ 0.7% of events) via the
    pigeonhole-pruned two-pass: per-partition local fractions generate a
    provably complete candidate set of at most partitions/φ keys, and
    only candidates are exact-counted. The candidate stage is a
    partitioning-dependent implementation detail; the FINAL set is
    engine-deterministic, so the oracle replays it as plain brute
    force."""
    from artigraph_spark.operators.sketches import heavy_hitters

    e = load(spark, sf_dir, "events")
    return heavy_hitters(e, "user_id", 0.007)


@query(
    "sliding_quantiles_hourly",
    oracle=f"""
    WITH hist AS (
        SELECT CAST(floor((floor(epoch(ts)) - 1704067200) / 3600.0) AS BIGINT) AS b,
               CASE WHEN value >= {_GQ_HI!r} THEN {_GQ_BINS}
                    ELSE CAST(least({float(_GQ_BINS - 1)!r}, greatest(0.0,
                         floor((value - {_GQ_LO!r}) / {_GQ_W!r}))) AS INT)
               END AS bin,
               count(*) AS cnt
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value) AND ts IS NOT NULL
        GROUP BY 1, 2
    ), present AS (SELECT DISTINCT b FROM hist),
    contrib AS (
        SELECT p.b AS bucket, h.bin, h.cnt
        FROM hist h JOIN present p ON p.b BETWEEN h.b AND h.b + 23
    ), merged AS (
        SELECT bucket, bin, CAST(SUM(cnt) AS BIGINT) AS cnt
        FROM contrib GROUP BY 1, 2
    ), cum AS (
        SELECT bucket, bin, cnt,
               sum(cnt) OVER (PARTITION BY bucket ORDER BY bin) AS cum
        FROM merged
    ), totals AS (
        SELECT bucket, sum(cnt) AS n FROM merged GROUP BY bucket
    ), targets AS (
        SELECT t.bucket, q,
               CAST(ceil(CAST(q AS DOUBLE) * t.n) AS BIGINT) AS target_rank
        FROM totals t, (VALUES (0.5), (0.95)) v(q)
    ), est AS (
        SELECT t.bucket, t.q, t.target_rank,
               CASE WHEN min(c.bin) >= {_GQ_BINS} THEN CAST('Infinity' AS DOUBLE)
                    ELSE {_GQ_LO!r} + (min(c.bin) + 1) * {_GQ_W!r} END AS estimate
        FROM targets t JOIN cum c
          ON c.bucket = t.bucket AND c.cum >= t.target_rank
        GROUP BY t.bucket, t.q, t.target_rank
    )
    SELECT bucket, q, target_rank, estimate FROM est
    """,
)
def sliding_quantiles_hourly(spark, sf_dir):
    """Trailing-24 h p50/p95 of event value per hour from mergeable
    per-bucket histograms — the observability "p95 over the last day"
    query as summary re-aggregation: one data-sized binning pass, then
    each answer touches ≤ window×(bins+1) summary rows. Same rank-walk
    and edge arithmetic as `grouped_quantiles_events`, replayed exactly
    by the oracle per trailing window."""
    from artigraph_spark.operators.sketches import sliding_histogram_quantiles

    e = load(spark, sf_dir, "events")
    bucket = F.floor(
        (F.unix_timestamp(F.col("ts")) - F.lit(1704067200)) / F.lit(3600.0)
    ).cast("long")
    return sliding_histogram_quantiles(
        e,
        bucket,
        "value",
        window_buckets=24,
        lo=_GQ_LO,
        hi=_GQ_HI,
        bins=_GQ_BINS,
        quantiles=[0.5, 0.95],
    )


def _audience_overlap_oracle_sql(m: int, seed: int) -> str:
    """DuckDB replica of the HLL audience overlap (click vs purchase
    users): three raw estimates (A, B, per-register-max union) and the
    inclusion-exclusion overlap, plus the exact intersection."""
    from artigraph_spark.operators.sketches import _HLL_MAX_RHO

    mix_sql = _hll_mix_sql
    alpha_m2 = _hll_alpha_m2(m)
    big = 1 << _HLL_MAX_RHO
    rho_branches = _hll_rho_branches_sql()

    def side(tag, et):
        return f"""
    {tag}_regs AS (
        SELECT {mix_sql('k', seed)} % {m} AS register,
               {mix_sql('k', seed + 12)} AS w
        FROM (SELECT DISTINCT user_id % 2147483647 AS k FROM events
              WHERE event_type = '{et}' AND user_id IS NOT NULL)
    ), {tag}_sk AS (
        SELECT register, max(CASE WHEN w = 0 THEN {_HLL_MAX_RHO} {rho_branches}
                                  ELSE {_HLL_MAX_RHO} END) AS max_rho
        FROM {tag}_regs GROUP BY register
    )"""

    def est(src, alias):
        return f"""
    {alias} AS (
        SELECT CAST({alpha_m2!r} AS DOUBLE) * CAST({float(big)!r} AS DOUBLE)
               / (SUM(CAST(pow(2.0, {_HLL_MAX_RHO} - max_rho) AS BIGINT))
                  + ({m} - count(*)) * {big}) AS e
        FROM {src}
    )"""

    return f"""
    WITH {side('a', 'click')[5:]},
    {side('b', 'purchase')[5:]},
    u_sk AS (
        SELECT register, max(max_rho) AS max_rho
        FROM (SELECT * FROM a_sk UNION ALL SELECT * FROM b_sk)
        GROUP BY register
    ),
    {est('a_sk', 'ea')[5:]},
    {est('b_sk', 'eb')[5:]},
    {est('u_sk', 'eu')[5:]},
    exact AS (
        SELECT CAST(count(*) AS BIGINT) AS exact_intersection
        FROM (
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase'
        )
    )
    SELECT round(ea.e, 6) AS est_a_r, round(eb.e, 6) AS est_b_r,
           round(eu.e, 6) AS est_union_r,
           round(ea.e + eb.e - eu.e, 6) AS est_intersection_r,
           exact.exact_intersection
    FROM ea, eb, eu, exact
    """


@query("audience_overlap_click_purchase", oracle=_audience_overlap_oracle_sql(1024, 11))
def audience_overlap_click_purchase(spark, sf_dir):
    """Audience overlap (users who both clicked and purchased) from HLL
    sketches alone — inclusion-exclusion over A, B, and the
    per-register-max union, replayed exactly by the oracle alongside the
    exact intersection for context. The fleet-scale ad-tech overlap
    question answered from two m-register summaries, no join of the raw
    event sets."""
    from artigraph_spark.operators.sketches import (
        hll_intersection_estimate,
        hll_sketch,
    )

    e = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    sk_a = hll_sketch(e.filter(F.col("event_type") == "click"), "user_id", m=1024, seed=11)
    sk_b = hll_sketch(e.filter(F.col("event_type") == "purchase"), "user_id", m=1024, seed=11)
    est = hll_intersection_estimate(sk_a, sk_b, m=1024)
    clicks = e.filter(F.col("event_type") == "click").select("user_id")
    purch = e.filter(F.col("event_type") == "purchase").select("user_id")
    exact = (
        clicks.intersect(purch)
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        F.round("est_a", 6).alias("est_a_r"),
        F.round("est_b", 6).alias("est_b_r"),
        F.round("est_union", 6).alias("est_union_r"),
        F.round("est_intersection", 6).alias("est_intersection_r"),
        "exact_intersection",
    )


def _hll_rollup_oracle_sql(m: int, seed: int) -> str:
    """DuckDB replica of the hierarchical HLL rollup (distinct users per
    hour → day → month): finest registers once, coarser levels re-merge
    by per-register max at floor-divided bucket ids."""
    from artigraph_spark.operators.sketches import _HLL_MAX_RHO

    mix_sql = _hll_mix_sql
    alpha_m2 = _hll_alpha_m2(m)
    big = 1 << _HLL_MAX_RHO
    rho_branches = _hll_rho_branches_sql()
    return f"""
    WITH keyed AS (
        SELECT CAST(floor((floor(epoch(ts)) - 1704067200) / 3600.0) AS BIGINT) AS b,
               user_id % 2147483647 AS k
        FROM events WHERE user_id IS NOT NULL
    ), regs AS (
        SELECT b, {mix_sql('k', seed)} % {m} AS register,
               {mix_sql('k', seed + 12)} AS w
        FROM keyed
    ), ranked AS (
        SELECT b, register,
               CASE WHEN w = 0 THEN {_HLL_MAX_RHO} {rho_branches}
                    ELSE {_HLL_MAX_RHO} END AS rho
        FROM regs
    ), l0 AS (
        SELECT 0 AS level, b AS bucket, register, max(rho) AS max_rho
        FROM ranked GROUP BY 2, 3
    ), l1 AS (
        SELECT 1 AS level, bucket // 24 AS bucket, register, max(max_rho) AS max_rho
        FROM l0 GROUP BY 2, 3
    ), l2 AS (
        SELECT 2 AS level, (bucket * 24) // 720 AS bucket, register,
               max(max_rho) AS max_rho
        FROM l1 GROUP BY 2, 3
    ), allv AS (
        SELECT * FROM l0 UNION ALL SELECT * FROM l1 UNION ALL SELECT * FROM l2
    ), agg AS (
        SELECT level, bucket,
               SUM(CAST(pow(2.0, {_HLL_MAX_RHO} - max_rho) AS BIGINT)) AS present,
               count(*) AS nreg
        FROM allv GROUP BY 1, 2
    )
    SELECT CAST(level AS INT) AS level, bucket,
           round(CAST({alpha_m2!r} AS DOUBLE) * CAST({float(big)!r} AS DOUBLE)
                 / (present + ({m} - nreg) * {big}), 6) AS estimate_r
    FROM agg
    """


@query("hll_rollup_users", oracle=_hll_rollup_oracle_sql(256, 11))
def hll_rollup_users(spark, sf_dir):
    """Distinct users per hour → day → month from ONE pass: the sketch
    twin of the fixed-point time rollup — coarser levels re-aggregate the
    finer level's HLL registers (per-register max), never the data, so a
    year of hourly sketches answers the monthly distinct question from
    summary rows alone. Every register, merge, and estimate
    oracle-replayed."""
    from artigraph_spark.operators.sketches import hll_time_rollup

    e = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    bucket = F.floor(
        (F.unix_timestamp(F.col("ts")) - F.lit(1704067200)) / F.lit(3600.0)
    ).cast("long")
    out = hll_time_rollup(
        e, bucket, "user_id", coarsen=[24, 720], m=256, seed=11
    )
    return out.select(
        "level", "bucket", F.round("estimate", 6).alias("estimate_r")
    )


@query(
    "grouped_heavy_hitters_events",
    oracle="""
    WITH data AS (
        SELECT event_type, user_id FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    ), totals AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS group_total
        FROM data GROUP BY 1
    ), exact AS (
        SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM data GROUP BY 1, 2
    )
    SELECT e.event_type, e.user_id, e.exact_cnt, t.group_total
    FROM exact e JOIN totals t USING (event_type)
    WHERE e.exact_cnt * 1000000 >= 10000 * t.group_total
    """,
)
def grouped_heavy_hitters_events(spark, sf_dir):
    """Dominant users per event type (≥ 1% of the type's events) via
    per-(partition, group) pigeonhole pruning — candidates are bounded by
    1/φ per partition-group and only they are exact-counted; the global
    filter makes the set partitioning-independent, so the oracle replays
    plain brute force."""
    from artigraph_spark.operators.sketches import grouped_heavy_hitters

    e = load(spark, sf_dir, "events")
    return grouped_heavy_hitters(e, "event_type", "user_id", 0.01)


@query(
    "skew_audit_lineitem_orderkey",
    oracle="""
    WITH counts AS (
        SELECT l_orderkey, CAST(count(*) AS BIGINT) AS c
        FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1
    ), nk AS (
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(SUM(c) AS BIGINT) AS n_rows
        FROM counts
    ), hist AS (
        SELECT c AS size, CAST(count(*) AS BIGINT) AS freq
        FROM counts GROUP BY 1
    ), cum AS (
        SELECT size, sum(freq) OVER (ORDER BY size) AS cum FROM hist
    ), p50 AS (
        SELECT CAST(min(size) AS BIGINT) AS p50_size FROM cum, nk
        WHERE cum >= ceil(0.5 * nk.n_keys)
    ), p99 AS (
        SELECT CAST(min(size) AS BIGINT) AS p99_size FROM cum, nk
        WHERE cum >= ceil(0.99 * nk.n_keys)
    ), top AS (
        SELECT c FROM counts ORDER BY c DESC, l_orderkey LIMIT 5
    ), topa AS (
        SELECT CAST(max(c) AS BIGINT) AS max_size,
               string_agg(CAST(c AS VARCHAR), ',' ORDER BY c DESC) AS topk_sizes_s
        FROM top
    )
    SELECT nk.n_keys, nk.n_rows, p50.p50_size, p99.p99_size, topa.max_size,
           round(CAST(topa.max_size AS DOUBLE) / nk.n_rows, 9) AS top1_share_r,
           topa.topk_sizes_s
    FROM nk, p50, p99, topa
    """,
)
def skew_audit_lineitem_orderkey(spark, sf_dir):
    """Join-key skew audit of lineitem's order key: distinct keys, total
    rows, exact p50/p99/max group sizes, the hottest key's share, and the
    top-5 sizes — the pre-join diagnostic that decides plain shuffle vs
    AQE skew split vs explicit salting (docs/SCALE.md zipfian study).
    One data-sized shuffle; everything after runs on the size
    histogram."""
    from artigraph_spark.operators.sketches import key_skew_audit

    li = load(spark, sf_dir, "lineitem")
    return key_skew_audit(li, "l_orderkey", top_k=5)


@query(
    "lateral_topk_orders",
    oracle="""
    SELECT c.c_custkey AS custkey, t.o_orderkey AS orderkey,
           t.o_totalprice AS totalprice
    FROM customer c,
    LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) t
    WHERE c.c_acctbal > 9000
    """,
)
def lateral_topk_orders(spark, sf_dir):
    """LATERAL correlated subquery through the SQL API: each rich
    customer's top-2 orders by price. Catalyst decorrelates the lateral
    into a ranked join (the DataFrame twin is window_topk_per_group's
    WindowGroupLimit shape) — registered to pin the SQL-surface parity
    for the lateral syntax both engines support."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("lt_orders")
    load(spark, sf_dir, "customer").createOrReplaceTempView("lt_customer")
    return spark.sql(
        """
        SELECT c.c_custkey AS custkey, t.o_orderkey AS orderkey,
               t.o_totalprice AS totalprice
        FROM lt_customer c,
        LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM lt_orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) t
        WHERE c.c_acctbal > 9000
        """
    )


def _sliding_cms_oracle_sql(
    width: int, depth: int, seed: int, window: int, k: int, m: int
) -> str:
    """DuckDB replica of the trailing-window CMS top-k users with the
    per-bucket top-m candidate pre-prune: each bucket estimates its own
    active keys and nominates its top-m (ties by key); window candidates
    are the union of bucket nominees; per-bucket cells merge by sum
    across each window; tie-broken ranking over the candidates."""
    from artigraph_spark.operators.dedup import _P, _hash_coeffs

    coeffs = _hash_coeffs(depth, seed)
    cell = "((({a} * k + {b}) % {p}) % {w})"
    cells = "\n        UNION ALL ".join(
        f"SELECT b, {d} AS depth_id, "
        f"{cell.format(a=a, b=b, p=_P, w=width)} AS cell FROM ev"
        for d, (a, b) in enumerate(coeffs)
    )
    bprobes = "\n        UNION ALL ".join(
        f"SELECT b, user_id, {d} AS depth_id, "
        f"{cell.format(a=a, b=b, p=_P, w=width)} AS cell FROM akeys"
        for d, (a, b) in enumerate(coeffs)
    )
    probes = "\n        UNION ALL ".join(
        f"SELECT bucket, user_id, {d} AS depth_id, "
        f"{cell.format(a=a, b=b, p=_P, w=width)} AS cell FROM wkeys"
        for d, (a, b) in enumerate(coeffs)
    )
    return f"""
    WITH ev AS (
        SELECT CAST(floor((floor(epoch(ts)) - 1704067200) / 3600.0) AS BIGINT) AS b,
               user_id, user_id % 2147483647 AS k
        FROM events WHERE user_id IS NOT NULL
    ),
    cells AS ({cells}),
    hourly AS (
        SELECT b, depth_id, cell, CAST(count(*) AS BIGINT) AS cnt
        FROM cells GROUP BY 1, 2, 3
    ),
    present AS (SELECT DISTINCT b AS bucket FROM hourly),
    merged AS (
        SELECT p.bucket, h.depth_id, h.cell, CAST(SUM(h.cnt) AS BIGINT) AS cnt
        FROM hourly h JOIN present p ON p.bucket BETWEEN h.b AND h.b + {window - 1}
        GROUP BY 1, 2, 3
    ),
    akeys AS (SELECT DISTINCT b, user_id, k FROM ev),
    bprobes AS ({bprobes}),
    best AS (
        SELECT bp.b, bp.user_id, min(coalesce(h.cnt, 0)) AS e
        FROM bprobes bp
        LEFT JOIN hourly h
          ON h.b = bp.b AND h.depth_id = bp.depth_id AND h.cell = bp.cell
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT b, user_id FROM (
            SELECT b, user_id,
                   ROW_NUMBER() OVER (PARTITION BY b
                                      ORDER BY e DESC, user_id) AS bn
            FROM best
        ) WHERE bn <= {m}
    ),
    wkeys AS (
        SELECT DISTINCT p.bucket, c.user_id, c.user_id % 2147483647 AS k
        FROM cand c JOIN present p ON p.bucket BETWEEN c.b AND c.b + {window - 1}
    ),
    probes AS ({probes}),
    est AS (
        SELECT pr.bucket, pr.user_id, min(coalesce(m.cnt, 0)) AS estimate
        FROM probes pr
        LEFT JOIN merged m
          ON m.bucket = pr.bucket AND m.depth_id = pr.depth_id
         AND m.cell = pr.cell
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT bucket, user_id, estimate,
               ROW_NUMBER() OVER (PARTITION BY bucket
                                  ORDER BY estimate DESC, user_id) AS rnk
        FROM est
    )
    SELECT bucket, rnk, user_id, estimate FROM ranked WHERE rnk <= {k}
    """


@query(
    "sliding_cms_top_users",
    oracle=_sliding_cms_oracle_sql(256, 4, 42, 24, 3, 72),
)
def sliding_cms_top_users(spark, sf_dir):
    """Top-3 users per hour over the trailing 24 h from merged per-hour
    count-min sketches — the hard-window sibling of `cms_decayed_topk`
    and the frequency member of the windowed-sketch trio (with
    `sliding_distinct_users` and `sliding_quantiles_hourly`). State is
    buckets × depth × width cells. r7: probes are bounded by the
    per-bucket top-72 (= k·window) candidate pre-prune — ≤ 72×24 probes
    per window instead of every active key window-multiplied; any missed
    key provably holds ≲ 1/(k·window) of the window's mass (see
    ``sliding_cms_topk``'s bound). Every estimate, the nomination, and
    the tie-broken leaderboard replay exactly."""
    from artigraph_spark.operators.sketches import sliding_cms_topk

    e = load(spark, sf_dir, "events")
    bucket = F.floor(
        (F.unix_timestamp(F.col("ts")) - F.lit(1704067200)) / F.lit(3600.0)
    ).cast("long")
    return sliding_cms_topk(
        e, bucket, "user_id", window_buckets=24, k=3, width=256, depth=4,
        seed=42, candidates_per_bucket=72,
    )


@query(
    "snapshot_diff_orders",
    oracle="""
    WITH old AS (
        SELECT o_orderkey AS k, o_totalprice AS v
        FROM orders WHERE o_orderkey % 89 != 0
    ), new AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS v
        FROM orders WHERE o_orderkey % 97 != 0
    ), j AS (
        SELECT coalesce(o.k, n.k) AS k,
               o.k IS NOT NULL AS in_o, n.k IS NOT NULL AS in_n,
               o.v IS NOT DISTINCT FROM n.v AS same
        FROM old o FULL OUTER JOIN new n ON o.k = n.k
    )
    SELECT CASE WHEN NOT in_o THEN 'added'
                WHEN NOT in_n THEN 'removed'
                WHEN same THEN 'unchanged'
                ELSE 'changed' END AS status,
           count(*) AS n,
           CAST(SUM(k % 2147483647) % 2147483647 AS BIGINT) AS key_checksum
    FROM j GROUP BY 1
    """,
)
def snapshot_diff_orders(spark, sf_dir):
    """Change-data-capture diff between two deterministic snapshot views
    of orders (keys %89==0 added, %97==0 removed, %13==0 price-shifted):
    full-outer classify into added/removed/changed/unchanged with
    order-independent key checksums — the lakehouse "what changed
    between versions" report, four rows out regardless of scale. See
    ``operators.quality.snapshot_diff``."""
    from artigraph_spark.operators.quality import snapshot_diff

    o = load(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 89 != 0)
    new = o.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + F.lit(10.0)
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, "o_orderkey", ["o_totalprice"])


@query(
    "impute_value_group_mean",
    oracle="""
    WITH e AS (
        SELECT event_id, event_type, value,
               (event_id % 19 = 0) OR value IS NULL OR isnan(value) AS miss
        FROM events
    ), m AS (
        SELECT event_type,
               CAST(SUM(CAST(floor(value * 1048576.0) AS BIGINT)) AS DOUBLE)
                   / (count(*) * 1048576.0) AS gm
        FROM e WHERE NOT miss GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.miss AS was_missing,
           round(CASE WHEN e.miss THEN m.gm ELSE e.value END, 9)
               AS value_imputed_r
    FROM e LEFT JOIN m USING (event_type)
    """,
)
def impute_value_group_mean(spark, sf_dir):
    """Missing-value imputation with the per-event-type fixed-point
    mean: a deterministic synthetic missingness mask (event_id % 19,
    plus any real NULL/NaN) gets its group's exact-integer mean — the
    reproducible numeric-feature repair, every imputed value
    oracle-replayed. See ``operators.quality.impute_group_mean``."""
    from artigraph_spark.operators.quality import impute_group_mean

    e = load(spark, sf_dir, "events")
    c = F.col("value")
    miss = (F.col("event_id") % 19 == 0) | c.isNull() | F.isnan(c)
    out = impute_group_mean(e, "event_type", "value", missing=miss)
    return out.select(
        "event_id", "event_type", "was_missing", "value_imputed_r"
    )


@query(
    "winsorize_quantity",
    bench=True,
    oracle="""
    WITH hist AS (
        SELECT l_returnflag AS g, l_quantity AS v, count(*) AS f
        FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2
    ), cum AS (
        SELECT g, v,
               CAST(sum(f) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum,
               CAST(sum(f) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM hist
    ), lo AS (
        SELECT g, min(v) AS lo FROM cum WHERE cum >= ceil(0.05 * n) GROUP BY g
    ), hi AS (
        SELECT g, min(v) AS hi FROM cum WHERE cum >= ceil(0.95 * n) GROUP BY g
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           CASE WHEN l.l_quantity IS NOT NULL
                THEN least(greatest(l.l_quantity, lo.lo), hi.hi) END
               AS value_clipped
    FROM lineitem l
    LEFT JOIN lo ON lo.g = l.l_returnflag
    LEFT JOIN hi ON hi.g = l.l_returnflag
    """,
)
def winsorize_quantity(spark, sf_dir):
    """Per-returnflag winsorization of quantity at rank-based p5/p95:
    thresholds are actual data values at rank ceil(q·n) (type-1, no
    interpolation — exact integer-rank arithmetic), clipping is a
    per-row least/greatest — outlier policy with zero float drift. See
    ``operators.quality.winsorize``."""
    from artigraph_spark.operators.quality import winsorize

    li = load(spark, sf_dir, "lineitem")
    out = winsorize(li, "l_returnflag", "l_quantity")
    return out.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "value_clipped"
    )


@query(
    "mad_outliers_orders",
    oracle="""
    WITH hist AS (
        SELECT o_orderpriority AS g, o_totalprice AS v, count(*) AS f
        FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2
    ), cum AS (
        SELECT g, v,
               CAST(sum(f) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum,
               CAST(sum(f) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM hist
    ), med AS (
        SELECT g, min(v) AS med FROM cum WHERE cum >= ceil(0.5 * n) GROUP BY g
    ), dev AS (
        SELECT o.o_orderkey, o.o_orderpriority AS g, o.o_totalprice,
               abs(o.o_totalprice - med.med) AS abs_dev
        FROM orders o JOIN med ON o.o_orderpriority = med.g
        WHERE o.o_totalprice IS NOT NULL
    ), dhist AS (
        SELECT g, abs_dev AS v, count(*) AS f FROM dev GROUP BY 1, 2
    ), dcum AS (
        SELECT g, v,
               CAST(sum(f) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum,
               CAST(sum(f) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM dhist
    ), mad AS (
        SELECT g, min(v) AS mad FROM dcum WHERE cum >= ceil(0.5 * n) GROUP BY g
    )
    SELECT dev.o_orderkey, dev.g AS o_orderpriority, dev.o_totalprice,
           dev.abs_dev,
           dev.abs_dev > 3.0 * 1.4826 * mad.mad AS is_outlier
    FROM dev JOIN mad USING (g)
    """,
)
def mad_outliers_orders(spark, sf_dir):
    """Median/MAD robust outlier flags on order totals per priority class —
    the heavy-tail-safe sibling of anomaly_zscore_hours (median and MAD
    have a 50% breakdown point; mean/stddev are dragged by the outliers
    they're meant to find). Location and scale are exact type-1 rank
    quantiles over cumulative histograms; the only float ops are the
    per-row |v - med| and one constant multiply, identical on both
    engines. See ``operators.quality.robust_outliers``."""
    from artigraph_spark.operators.quality import robust_outliers

    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    out = robust_outliers(o, "o_orderpriority", "o_totalprice", k=3.0)
    return out.select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "abs_dev", "is_outlier"
    )


@query(
    "feature_bins_lineitem",
    oracle="""
    WITH hist AS (
        SELECT l_returnflag, l_extendedprice AS v, count(*) AS f
        FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2
    ), cum AS (
        SELECT l_returnflag, v, f,
               CAST(sum(f) OVER (PARTITION BY l_returnflag ORDER BY v) AS BIGINT) AS cum,
               CAST(sum(f) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        FROM hist
    ), b AS (
        SELECT l_returnflag, v, f, (10 * cum + n - 1) // n AS bin FROM cum
    )
    SELECT l_returnflag, bin, CAST(sum(f) AS BIGINT) AS n_rows,
           min(v) AS min_v, max(v) AS max_v
    FROM b GROUP BY l_returnflag, bin
    """,
)
def feature_bins_lineitem(spark, sf_dir):
    """Equi-depth (decile) binning of extended price per returnflag,
    summarised per bin — the feature-discretization shape (quantile-bucket
    a continuous column before crossing/coding it for training). Bins are
    value-deterministic (equal values always share a bin, unlike NTILE's
    arbitrary tie splits) and the assignment is exact integer arithmetic
    over the cumulative histogram. See
    ``operators.quality.equi_depth_bins``."""
    from artigraph_spark.operators.quality import equi_depth_bins

    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    out = equi_depth_bins(li, "l_returnflag", "l_extendedprice", n_bins=10)
    return out.groupBy("l_returnflag", "bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_extendedprice").alias("min_v"),
        F.max("l_extendedprice").alias("max_v"),
    )


@query(
    "target_encode_orders",
    oracle="""
    WITH s AS (
        SELECT o_orderpriority AS c,
               CAST(SUM(CAST(floor((o_totalprice) * 1048576.0) AS BIGINT))
                    FILTER (WHERE o_totalprice IS NOT NULL
                            AND NOT isnan(o_totalprice)) AS BIGINT) AS sfx,
               count(CASE WHEN o_totalprice IS NOT NULL
                          AND NOT isnan(o_totalprice) THEN 1 END) AS n
        FROM orders GROUP BY 1
    )
    SELECT o_orderkey, o_orderpriority,
           CASE WHEN s.n - 1 > 0 THEN
               CAST(s.sfx - CAST(floor((o_totalprice) * 1048576.0) AS BIGINT)
                    AS DOUBLE)
               / CAST((s.n - 1) * 1048576 AS DOUBLE)
           END AS te_r
    FROM orders JOIN s ON s.c = o_orderpriority
    """,
)
def target_encode_orders(spark, sf_dir):
    """Leave-one-out target encoding of order priority by order value —
    the supervised categorical feature, leakage-free: each order sees the
    mean total price of every OTHER order in its priority class. Exact
    fixed-point sums; one group summary broadcast back to the rows."""
    from artigraph_spark.operators.quality import target_encode_loo

    o = load(spark, sf_dir, "orders")
    return target_encode_loo(o, "o_orderpriority", "o_totalprice").select(
        "o_orderkey", "o_orderpriority", "te_r"
    )


@query(
    "gini_spend_by_nation",
    oracle="""
    WITH o AS (
        SELECT c.c_nationkey AS g,
               CAST(floor((o.o_totalprice) * 1048576.0) AS BIGINT) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice IS NOT NULL AND NOT isnan(o.o_totalprice)
    ), r AS (
        SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS i FROM o
    ), a AS (
        SELECT g, count(*) AS n, sum(x) AS sx, sum(x * i) AS six FROM r GROUP BY g
    )
    SELECT n_name AS nation, a.n,
           CASE WHEN a.n * a.sx != 0 THEN
               CAST(2 * a.six - (a.n + 1) * a.sx AS DOUBLE)
               / CAST(a.n * a.sx AS DOUBLE)
           END AS gini_r
    FROM a JOIN nation ON n_nationkey = a.g
    """,
)
def gini_spend_by_nation(spark, sf_dir):
    """Per-nation Gini concentration of order spend — how unequal the
    customer revenue distribution is, the inequality audit. Fixed-point
    order statistics make the index engine-exact; the rank sums ride
    the bucketed histogram (no per-nation sort) plus a broadcast
    nation-name join."""
    from artigraph_spark.operators.quality import gini_by_group

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation")
    g = gini_by_group(
        o.join(c, F.col("o_custkey") == F.col("c_custkey")),
        "c_nationkey",
        "o_totalprice",
    )
    return g.join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey")).select(
        F.col("n_name").alias("nation"), "n", "gini_r"
    )


@query(
    "auc_status_by_priority",
    oracle="""
    WITH r AS (
        SELECT o_orderpriority AS g,
               CAST(floor((o_totalprice) * 1048576.0) AS BIGINT) AS s,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS p
        FROM orders
        WHERE o_orderstatus IS NOT NULL
          AND o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
    ), h AS (
        SELECT g, s,
               CAST(SUM(p) AS BIGINT) AS pos,
               CAST(count(*) - SUM(p) AS BIGINT) AS neg
        FROM r GROUP BY g, s
    ), c AS (
        SELECT g, pos, neg,
               CAST(COALESCE(SUM(neg) OVER (
                   PARTITION BY g ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cumneg
        FROM h
    ), a AS (
        SELECT g,
               CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(neg) AS BIGINT) AS n_neg,
               CAST(SUM(pos * (2 * cumneg + neg)) AS BIGINT) AS num2
        FROM c GROUP BY g
    )
    SELECT g AS priority, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
               CAST(num2 AS DOUBLE)
               / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
           END AS auc_r
    FROM a
    """,
)
def auc_status_by_priority(spark, sf_dir):
    """Per-priority ROC-AUC of order value as a predictor of finished
    status — the exact Mann–Whitney evaluation with tie correction, on
    fixed-point-quantized scores so tie groups replay on any engine."""
    from artigraph_spark.operators.quality import auc_by_group

    o = load(spark, sf_dir, "orders").withColumn(
        "__lab", F.col("o_orderstatus") == "F"
    )
    a = auc_by_group(o, "o_orderpriority", "o_totalprice", "__lab")
    return a.select(
        F.col("o_orderpriority").alias("priority"), "n_pos", "n_neg", "auc_r"
    )


@query(
    "psi_price_drift",
    oracle="""
    WITH b AS (
        SELECT CAST(floor((o_totalprice) * 1048576.0) AS BIGINT) AS v
        FROM orders
        WHERE o_orderdate < TIMESTAMP '1998-01-01'
          AND o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
    ), c AS (
        SELECT CAST(floor((o_totalprice) * 1048576.0) AS BIGINT) AS v
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'
          AND o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
    ), nb AS (SELECT CAST(count(*) AS BIGINT) AS nbn FROM b
    ), nc AS (SELECT CAST(count(*) AS BIGINT) AS ncn FROM c
    ), h AS (
        SELECT v, CAST(count(*) AS BIGINT) AS f FROM b GROUP BY v
    ), cum AS (
        SELECT v, CAST(SUM(f) OVER (ORDER BY v) AS BIGINT) AS cumf FROM h
    ), ranks AS (
        SELECT (t.i * nb.nbn + 9) // 10 AS r
        FROM nb, generate_series(1, 9) AS t(i)
    ), edges AS (
        SELECT r, MIN(v) AS e FROM cum JOIN ranks ON cumf >= r GROUP BY r
    ), de AS (SELECT DISTINCT e FROM edges
    ), bb AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS base_n FROM (
            SELECT (SELECT count(*) FROM de WHERE de.e < b2.v) AS bin
            FROM b AS b2
        ) GROUP BY bin
    ), cc AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS cur_n FROM (
            SELECT (SELECT count(*) FROM de WHERE de.e < c2.v) AS bin
            FROM c AS c2
        ) GROUP BY bin
    ), j AS (
        SELECT COALESCE(bb.bin, cc.bin) AS bin,
               COALESCE(base_n, 0) AS base_n,
               COALESCE(cur_n, 0) AS cur_n
        FROM bb FULL OUTER JOIN cc ON bb.bin = cc.bin
    )
    SELECT bin, base_n, cur_n,
           round((greatest(CAST(base_n AS DOUBLE) / CAST(nbn AS DOUBLE), 1e-6)
                  - greatest(CAST(cur_n AS DOUBLE) / CAST(ncn AS DOUBLE), 1e-6))
                 * ln(greatest(CAST(base_n AS DOUBLE) / CAST(nbn AS DOUBLE), 1e-6)
                      / greatest(CAST(cur_n AS DOUBLE) / CAST(ncn AS DOUBLE), 1e-6)),
                 9) AS psi_term_r
    FROM j, nb, nc
    """,
)
def psi_price_drift(spark, sf_dir):
    """Population stability index of order value, pre- vs post-1998 — the
    production drift audit: equi-depth bins from the baseline (exact
    integer ranks), per-bin (p−q)·ln(p/q) terms on the guard grid."""
    from artigraph_spark.operators.quality import psi_drift

    o = load(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    return psi_drift(
        o.filter(F.col("o_orderdate") < cut),
        o.filter(F.col("o_orderdate") >= cut),
        "o_totalprice",
        bins=10,
    )


@query(
    "entropy_event_types",
    oracle="""
    WITH cells AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events WHERE event_type IS NOT NULL
        GROUP BY 1, 2
    ), s AS (
        SELECT user_id,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_cats,
               (CAST(SUM(CAST(floor((round(CAST(c AS DOUBLE)
                    * ln(CAST(c AS DOUBLE)), 9)) * 1048576.0) AS BIGINT))
                 AS DOUBLE) / 1048576.0) AS slc
        FROM cells GROUP BY user_id
    )
    SELECT user_id, n, n_cats,
           round(ln(CAST(n AS DOUBLE)), 9) - slc / CAST(n AS DOUBLE) AS entropy_r
    FROM s
    """,
)
def entropy_event_types(spark, sf_dir):
    """Per-user Shannon entropy of event-type mix — the behavioural
    diversity audit (0 = single-action users, ln(k) = uniform over k
    types), with the c·ln(c) terms on the guard grid and summed through
    the overflow-safe fixed-point path."""
    from artigraph_spark.operators.quality import entropy_by_group

    e = load(spark, sf_dir, "events")
    return entropy_by_group(e, "user_id", "event_type")


@query(
    "chi2_priority_status",
    oracle="""
    WITH cells AS (
        SELECT o_orderpriority AS a, o_orderstatus AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
        GROUP BY 1, 2
    ), ra AS (SELECT a, CAST(SUM(c) AS BIGINT) AS na FROM cells GROUP BY a),
    cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS nb FROM cells GROUP BY b),
    s AS (
        SELECT CAST(SUM(cl.c) AS BIGINT) AS n,
               CAST(count(DISTINCT cl.a) AS BIGINT) AS r,
               CAST(count(DISTINCT cl.b) AS BIGINT) AS c,
               (CAST(SUM(CAST(floor(round(CAST(cl.c AS DOUBLE) * CAST(cl.c AS DOUBLE)
                     / (CAST(ra.na AS DOUBLE) * CAST(cb.nb AS DOUBLE)), 9)
                     * 1073741824.0) AS BIGINT)) AS DOUBLE) / 1073741824.0) AS sv
        FROM cells cl JOIN ra ON ra.a = cl.a JOIN cb ON cb.b = cl.b
    )
    SELECT n, r, c,
           round(CAST(n AS DOUBLE) * (sv - 1.0), 6) AS chi2_r,
           CASE WHEN least(r - 1, c - 1) > 0 THEN
               round(sqrt(greatest(CAST(n AS DOUBLE) * (sv - 1.0), 0.0)
                     / CAST(n * least(r - 1, c - 1) AS DOUBLE)), 6)
           END AS cramers_v_r
    FROM s
    """,
)
def chi2_priority_status(spark, sf_dir):
    """Chi-squared independence test + Cramér's V between order priority
    and order status — the categorical-association audit via the
    observed-cells closed form (no dense contingency matrix)."""
    from artigraph_spark.operators.quality import chi2_independence

    o = load(spark, sf_dir, "orders")
    return chi2_independence(o, "o_orderpriority", "o_orderstatus")


@query(
    "mi_event_type_hour",
    oracle="""
    WITH ev AS (
        SELECT event_type AS a,
               CAST((CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS BIGINT) AS b
        FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
    ), cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY 1, 2),
    ra AS (SELECT a, CAST(SUM(c) AS BIGINT) AS na FROM cells GROUP BY a),
    cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS nb FROM cells GROUP BY b),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells)
    SELECT tot.n,
           CAST(count(*) AS BIGINT) AS n_cells,
           (CAST(SUM(CAST(floor(round((CAST(cl.c AS DOUBLE) / CAST(tot.n AS DOUBLE))
                * ln(CAST(cl.c AS DOUBLE) * CAST(tot.n AS DOUBLE)
                     / (CAST(ra.na AS DOUBLE) * CAST(cb.nb AS DOUBLE))), 9)
                * 1073741824.0) AS BIGINT)) AS DOUBLE) / 1073741824.0) AS mi_r
    FROM cells cl JOIN ra ON ra.a = cl.a JOIN cb ON cb.b = cl.b, tot
    GROUP BY tot.n
    """,
)
def mi_event_type_hour(spark, sf_dir):
    """Mutual information between event type and UTC hour-of-day — does
    the traffic mix shift across the day? The dependence audit in nats,
    engine-exact through the fixed-point term sum."""
    from artigraph_spark.operators.quality import mutual_information

    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    e = e.withColumn(
        "hour_of_day", F.expr("(unix_timestamp(ts) % 86400) div 3600")
    )
    return mutual_information(e, "event_type", "hour_of_day")


@query(
    "ks_price_drift",
    oracle="""
    WITH b AS (
        SELECT CAST(floor((o_totalprice) * 1048576.0) AS BIGINT) AS v FROM orders
        WHERE o_orderdate < TIMESTAMP '1998-01-01'
          AND o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
    ), c AS (
        SELECT CAST(floor((o_totalprice) * 1048576.0) AS BIGINT) AS v FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'
          AND o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
    ), hb AS (SELECT v, CAST(count(*) AS BIGINT) AS fb FROM b GROUP BY v),
    hc AS (SELECT v, CAST(count(*) AS BIGINT) AS fc FROM c GROUP BY v),
    m AS (
        SELECT COALESCE(hb.v, hc.v) AS v,
               COALESCE(fb, 0) AS fb, COALESCE(fc, 0) AS fc
        FROM hb FULL OUTER JOIN hc ON hb.v = hc.v
    ), cum AS (
        SELECT CAST(SUM(fb) OVER (ORDER BY v) AS BIGINT) AS cb,
               CAST(SUM(fc) OVER (ORDER BY v) AS BIGINT) AS cc
        FROM m
    ), tot AS (
        SELECT CAST(SUM(fb) AS BIGINT) AS nb, CAST(SUM(fc) AS BIGINT) AS nc FROM m
    )
    SELECT nb AS n_base, nc AS n_cur,
           CAST(MAX(abs(cb * nc - cc * nb)) AS DOUBLE)
           / (CAST(nb AS DOUBLE) * CAST(nc AS DOUBLE)) AS ks_r
    FROM cum, tot GROUP BY nb, nc
    """,
)
def ks_price_drift(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov statistic of order value pre- vs
    post-1998 — the nonparametric drift companion to psi_price_drift,
    with the max taken over exact integer CDF cross products."""
    from artigraph_spark.operators.quality import ks_two_sample

    o = load(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    return ks_two_sample(
        o.filter(F.col("o_orderdate") < cut),
        o.filter(F.col("o_orderdate") >= cut),
        "o_totalprice",
    )


@query(
    "benford_price_digits",
    oracle="""
    WITH r AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS INTEGER) AS digit
        FROM orders
        WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
          AND o_totalprice >= 1.0
    ), counts AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n_d FROM r GROUP BY digit
    ), tot AS (SELECT CAST(SUM(n_d) AS BIGINT) AS n FROM counts)
    SELECT digit, n_d,
           round(CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE), 9) AS obs_p_r,
           round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 9) AS exp_p_r,
           round(round(CAST(n_d AS DOUBLE) / CAST(n AS DOUBLE), 9)
                 - round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 9), 9) AS dev_r
    FROM counts, tot
    """,
)
def benford_price_digits(spark, sf_dir):
    """First-digit distribution of order value vs. Benford's law — the
    fabricated-data audit, with digits extracted integer-side (never via
    double log10) so they replay identically on every engine."""
    from artigraph_spark.operators.quality import benford_digits

    o = load(spark, sf_dir, "orders")
    return benford_digits(o, "o_totalprice")


@query(
    "k_anonymity_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(count(*) AS BIGINT) AS class_n
    FROM orders
    GROUP BY 1, 2, 3
    HAVING count(*) < 10
    """,
)
def k_anonymity_orders(spark, sf_dir):
    """k-anonymity audit over (status, priority, order month) as the
    quasi-identifiers: every equivalence class smaller than k=10 is a
    re-identification risk. One map-side-combined QI shuffle; the report
    is violation-sized."""
    from artigraph_spark.operators.privacy import k_anonymity

    o = load(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    return k_anonymity(
        o, ["o_orderstatus", "o_orderpriority", "order_month"], 10
    )


@query(
    "l_diversity_events",
    oracle="""
    SELECT event_type, strftime(ts, '%Y-%m-%d %H') AS event_hour,
           CAST(count(*) AS BIGINT) AS class_n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive
    FROM events
    GROUP BY 1, 2
    HAVING count(DISTINCT user_id) < 5
    """,
)
def l_diversity_events(spark, sf_dir):
    """l-diversity audit: within each (event type, hour) class, fewer
    than l=5 distinct users means class membership leaks who acted even
    where k-anonymity holds. Single grouped distinct aggregation."""
    from artigraph_spark.operators.privacy import l_diversity

    e = load(spark, sf_dir, "events").withColumn(
        "event_hour", F.date_format("ts", "yyyy-MM-dd HH")
    )
    return l_diversity(e, ["event_type", "event_hour"], "user_id", 5)


@query(
    "cdc_apply_orders",
    oracle="""
    WITH base AS (
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01') t
        WHERE rn = 1
    ), win AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus,
                   row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01') t
        WHERE rn = 1
    )
    SELECT COALESCE(w.o_custkey, b.o_custkey) AS o_custkey,
           CASE WHEN w.op IS NOT NULL THEN w.o_orderkey
                ELSE b.o_orderkey END AS o_orderkey,
           CASE WHEN w.op IS NOT NULL THEN w.o_totalprice
                ELSE b.o_totalprice END AS o_totalprice
    FROM base b FULL OUTER JOIN win w ON w.o_custkey = b.o_custkey
    WHERE w.op IS NULL OR w.op = 'U'
    """,
)
def cdc_apply_orders(spark, sf_dir):
    """MERGE-INTO semantics without a table format: the pre-1997
    "current order per customer" snapshot updated by the post-1997
    changelog (finalized orders delete the key, others upsert), latest
    change per key winning. See ``operators.quality.cdc_apply``."""
    from pyspark.sql import Window

    from artigraph_spark.operators.quality import cdc_apply

    o = load(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    base = (
        o.filter(F.col("o_orderdate") < cut)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )
    chg = o.filter(F.col("o_orderdate") >= cut).select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        F.when(F.col("o_orderstatus") == "F", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return cdc_apply(
        base, chg, "o_custkey", order_cols=["o_orderdate", "o_orderkey"]
    )


@query(
    "ab_test_purchase",
    oracle="""
    WITH units AS (
        SELECT user_id,
               CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS converted,
               user_id % 2 AS variant
        FROM events GROUP BY user_id
    ), agg AS (
        SELECT
            CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
            CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
            CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
        FROM units
    )
    SELECT n_a, conv_a, n_b, conv_b,
        CASE WHEN n_a > 0 THEN
            round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 9) END AS rate_a_r,
        CASE WHEN n_b > 0 THEN
            round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 9) END AS rate_b_r,
        CASE WHEN n_a > 0 AND n_b > 0 THEN
            round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                  - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 9) END AS lift_r,
        round(CASE WHEN n_a > 0 AND n_b > 0
                    AND CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) > 0.0
                    AND CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) < 1.0
              THEN (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                    - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                   / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                          * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                          * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
              END, 9) AS z_r
    FROM agg
    """,
)
def ab_test_purchase(spark, sf_dir):
    """Two-proportion A/B readout: users split by the deterministic
    hash-style assignment user_id % 2, success = any purchase; per-arm
    rates, lift, pooled z — all from one conditional-count aggregate.
    See ``operators.quality.ab_test_proportions``."""
    from artigraph_spark.operators.quality import ab_test_proportions

    e = load(spark, sf_dir, "events")
    units = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).withColumn("variant", F.pmod(F.col("user_id"), F.lit(2)))
    return ab_test_proportions(
        units, "variant", "converted", variant_a=0, variant_b=1
    )


@query(
    "t_closeness_orders",
    oracle="""
    WITH base AS (
        SELECT o_orderpriority AS pri, strftime(o_orderdate, '%Y-%m') AS mon,
               o_orderstatus AS v
        FROM orders WHERE o_orderstatus IS NOT NULL
    ), cells AS (
        SELECT pri, mon, v, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY 1, 2, 3
    ), classes AS (
        SELECT pri, mon, CAST(SUM(c) AS BIGINT) AS nc FROM cells GROUP BY 1, 2
    ), gv AS (
        SELECT v, CAST(SUM(c) AS BIGINT) AS g FROM cells GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(g) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS m
        FROM gv
    ), dense AS (
        SELECT cl.pri, cl.mon, gl.v, cl.nc, t.n, t.m,
               (COALESCE(ce.c, 0) * t.n - gl.g * cl.nc) AS r
        FROM classes cl CROSS JOIN gv gl CROSS JOIN tot t
        LEFT JOIN cells ce ON ce.pri = cl.pri AND ce.mon = cl.mon AND ce.v = gl.v
    ), cum AS (
        SELECT pri, mon, nc, n, m,
               SUM(r) OVER (PARTITION BY pri, mon ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumr
        FROM dense
    )
    SELECT pri AS o_orderpriority, mon AS order_month,
           CAST(MIN(nc) AS BIGINT) AS class_n,
           CASE WHEN MIN(m) > 1 THEN
               round(CAST(SUM(abs(cumr)) AS DOUBLE)
                     / (CAST(MIN(nc) AS DOUBLE) * CAST(MIN(n) AS DOUBLE)
                        * CAST(MIN(m) - 1 AS DOUBLE)), 9)
           ELSE 0.0 END AS emd_r
    FROM cum GROUP BY 1, 2
    """,
)
def t_closeness_orders(spark, sf_dir):
    """t-closeness over (priority, order month) classes with order
    status as the sensitive attribute: per-class ordered EMD vs the
    global status mix, in exact scaled-integer arithmetic. Completes
    the privacy trio with k_anonymity_orders / l_diversity_events."""
    from artigraph_spark.operators.privacy import t_closeness

    o = load(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    return t_closeness(
        o, ["o_orderpriority", "order_month"], "o_orderstatus"
    )


@query(
    "rank_normalize_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
           CASE WHEN count(l_extendedprice) OVER
                     (PARTITION BY l_returnflag) > 1 THEN
               round(CAST(rank() OVER (PARTITION BY l_returnflag
                                       ORDER BY l_extendedprice ASC) - 1
                          AS DOUBLE)
                     / CAST(count(l_extendedprice) OVER
                            (PARTITION BY l_returnflag) - 1 AS DOUBLE), 9)
           ELSE 0.0 END AS pct_r
    FROM lineitem
    """,
)
def rank_normalize_lineitem(spark, sf_dir):
    """Per-returnflag rank normalization of extended price: each line
    maps to its percent rank within its flag group — the outlier-immune,
    scale-free feature transform. Ties share a rank, NULLs stay out of
    both ranks and denominators. See
    ``operators.quality.rank_normalize``."""
    from artigraph_spark.operators.quality import rank_normalize

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    return rank_normalize(li, ["l_returnflag"], "l_extendedprice")


@query(
    "mann_whitney_quantity",
    bench=True,
    oracle="""
    WITH hist AS (
        SELECT l_quantity AS v,
               CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS b
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_returnflag IN ('A', 'R')
        GROUP BY l_quantity
    ), cum AS (
        SELECT a, b,
               COALESCE(CAST(SUM(b) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS cb
        FROM hist
    ), s AS (
        SELECT CAST(SUM(a) AS BIGINT) AS na,
               CAST(SUM(b) AS BIGINT) AS nb,
               CAST(SUM(a * (2 * cb + b)) AS BIGINT) AS u2,
               CAST(SUM((a + b) * (a + b) * (a + b) - (a + b)) AS BIGINT) AS tie
        FROM cum
    )
    SELECT na AS n_a, nb AS n_b, u2 AS u2_a,
           round(CAST(u2 AS DOUBLE) / 2.0, 9) AS u_a_r,
           CASE WHEN na > 0 AND nb > 0
                 AND (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                      * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
                         - CAST(tie AS DOUBLE)
                           / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                              * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0)))) > 0
           THEN round(
               (CAST(u2 AS DOUBLE) / 2.0
                - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
               / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                      * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
                         - CAST(tie AS DOUBLE)
                           / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                              * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0)))),
               9) END AS z_r
    FROM s
    """,
)
def mann_whitney_quantity(spark, sf_dir):
    """Mann–Whitney U rank-sum test: did the quantity distribution shift
    between returned ('R') and accepted-return ('A') line items? Runs on
    the value histogram (50 distinct integer quantities), never ranks
    raw rows; heavy ties exercise the tie-corrected variance. See
    ``operators.quality.mann_whitney_u``."""
    from artigraph_spark.operators.quality import mann_whitney_u

    li = load(spark, sf_dir, "lineitem")
    return mann_whitney_u(li, "l_returnflag", "l_quantity", "A", "R")


def _welch_oracle() -> str:
    from artigraph_spark.functions import oracle_davg, oracle_dvar_samp

    va = "CASE WHEN l_returnflag = 'A' THEN l_extendedprice END"
    vb = "CASE WHEN l_returnflag = 'R' THEN l_extendedprice END"
    return f"""
    WITH s AS (
        SELECT CAST(COUNT({va}) AS BIGINT) AS n_a,
               CAST(COUNT({vb}) AS BIGINT) AS n_b,
               round({oracle_davg(va)}, 9) AS mean_a_r,
               round({oracle_davg(vb)}, 9) AS mean_b_r,
               round({oracle_dvar_samp(va)}, 9) AS var_a_r,
               round({oracle_dvar_samp(vb)}, 9) AS var_b_r
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_returnflag IN ('A', 'R')
    )
    SELECT n_a, n_b, mean_a_r, mean_b_r, var_a_r, var_b_r,
           CASE WHEN n_a > 1 AND n_b > 1
                 AND (var_a_r / CAST(n_a AS DOUBLE)
                      + var_b_r / CAST(n_b AS DOUBLE)) > 0
           THEN round((mean_a_r - mean_b_r)
                      / sqrt(var_a_r / CAST(n_a AS DOUBLE)
                             + var_b_r / CAST(n_b AS DOUBLE)), 9) END AS t_r,
           CASE WHEN n_a > 1 AND n_b > 1
                 AND (var_a_r / CAST(n_a AS DOUBLE)
                      + var_b_r / CAST(n_b AS DOUBLE)) > 0
           THEN round(((var_a_r / CAST(n_a AS DOUBLE)
                        + var_b_r / CAST(n_b AS DOUBLE))
                       * (var_a_r / CAST(n_a AS DOUBLE)
                          + var_b_r / CAST(n_b AS DOUBLE)))
                      / ((var_a_r / CAST(n_a AS DOUBLE))
                         * (var_a_r / CAST(n_a AS DOUBLE))
                         / (CAST(n_a AS DOUBLE) - 1.0)
                         + (var_b_r / CAST(n_b AS DOUBLE))
                           * (var_b_r / CAST(n_b AS DOUBLE))
                           / (CAST(n_b AS DOUBLE) - 1.0)), 9) END AS df_r
    FROM s
    """


@query("welch_ttest_price", oracle=_welch_oracle())
def welch_ttest_price(spark, sf_dir):
    """Welch's unequal-variance t-test on extended price between returned
    ('R') and accepted ('A') line items — one conditional aggregate,
    fixed-point moments, Welch–Satterthwaite degrees of freedom. See
    ``operators.quality.welch_ttest``."""
    from artigraph_spark.operators.quality import welch_ttest

    li = load(spark, sf_dir, "lineitem")
    return welch_ttest(li, "l_returnflag", "l_extendedprice", "A", "R")


@query(
    "bootstrap_ci_quantity",
    bench=True,
    oracle="""
    WITH base AS (
        SELECT l_orderkey * 8 + l_linenumber AS k, l_quantity AS v
        FROM lineitem WHERE l_quantity IS NOT NULL
    ), full_mean AS (
        SELECT round((CAST(SUM(CAST(floor(v * 1048576.0) AS BIGINT)) AS DOUBLE)
                      / 1048576.0) / COUNT(v), 9) AS mean_full_r
        FROM base
    ), reps AS (
        -- pmod form: (k % p + p) % p keeps a negative key's hash
        -- non-negative (both engines' % follows the dividend sign);
        -- every later summand is >= 0 so the outer % stays in [0, p).
        SELECT r.b, base.v
        FROM base, range(0, 40) r(b)
        WHERE ((((base.k % 1000000007 + 1000000007) % 1000000007)
                * 2654435761
                + r.b * 97003999 + 1 * 40503) % 1000000007) % 100 < 63
    ), means AS (
        SELECT b, round((CAST(SUM(CAST(floor(v * 1048576.0) AS BIGINT)) AS DOUBLE)
                         / 1048576.0) / COUNT(v), 9) AS m
        FROM reps GROUP BY b
    ), ranked AS (
        SELECT m, b,
               row_number() OVER (ORDER BY m, b) AS rn,
               count(*) OVER () AS nb
        FROM means
    )
    SELECT CAST(count(*) AS BIGINT) AS n_replicates,
           (SELECT mean_full_r FROM full_mean) AS mean_full_r,
           min(CASE WHEN rn = greatest(CAST(ceil(0.025 * nb) AS BIGINT), 1)
                    THEN m END) AS ci_lo_r,
           min(CASE WHEN rn = least(CAST(ceil(0.975 * nb) AS BIGINT), nb)
                    THEN m END) AS ci_hi_r
    FROM ranked
    """,
)
def bootstrap_ci_quantity(spark, sf_dir):
    """Deterministic subsampled-bootstrap 95% CI for mean line-item
    quantity: 40 hash-defined 63% subsamples, fixed-point replicate
    means, empirical order-statistic interval — reproducible on any
    engine at any partitioning, unlike df.sample(seed). See
    ``operators.quality.bootstrap_ci_mean``."""
    from artigraph_spark.operators.quality import bootstrap_ci_mean

    li = load(spark, sf_dir, "lineitem")
    return bootstrap_ci_mean(
        li,
        F.col("l_orderkey") * 8 + F.col("l_linenumber"),
        "l_quantity",
        replicates=40,
        keep_pct=63,
        alpha=0.05,
        seed=1,
    )


@query(
    "cdc_time_travel_orders",
    oracle="""
    WITH base AS (
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01') t
        WHERE rn = 1
    ), win AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus,
                   row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate <= TIMESTAMP '1999-01-01') t
        WHERE rn = 1
    )
    SELECT COALESCE(w.o_custkey, b.o_custkey) AS o_custkey,
           CASE WHEN w.op IS NOT NULL THEN w.o_orderkey
                ELSE b.o_orderkey END AS o_orderkey,
           CASE WHEN w.op IS NOT NULL THEN w.o_totalprice
                ELSE b.o_totalprice END AS o_totalprice
    FROM base b FULL OUTER JOIN win w ON w.o_custkey = b.o_custkey
    WHERE w.op IS NULL OR w.op = 'U'
    """,
)
def cdc_time_travel_orders(spark, sf_dir):
    """Time travel over the CDC changelog: the cdc_apply_orders scenario
    reconstructed AS OF 1999-01-01 — the change stream is pruned to the
    requested horizon (a pushable predicate at 100 TB on a
    date-partitioned log) before the same one-pass merge, so ANY
    historical state is a filter away without stored snapshots. See
    ``operators.quality.cdc_as_of``."""
    from pyspark.sql import Window

    from artigraph_spark.operators.quality import cdc_as_of

    o = load(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("timestamp")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    base = (
        o.filter(F.col("o_orderdate") < cut)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )
    chg = o.filter(F.col("o_orderdate") >= cut).select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        F.when(F.col("o_orderstatus") == "F", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return cdc_as_of(
        base,
        chg,
        "o_custkey",
        order_cols=["o_orderdate", "o_orderkey"],
        as_of=F.lit("1999-01-01").cast("timestamp"),
    )


@query(
    "pseudo_dp_noisy_counts_events",
    oracle="""
    WITH counts AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM events WHERE event_type IS NOT NULL GROUP BY event_type
    ), noised AS (
        SELECT event_type, n,
               ((CAST(('0x' || substr(sha256(event_type), 1, 15)) AS BIGINT)
                 % 1000000007) * 2654435761 + 11 * 40503) % 1000000007 AS h
        FROM counts
    )
    SELECT event_type, n,
           round(-2.0 * sign((CAST(h AS DOUBLE) + 0.5) / 1000000007.0 - 0.5)
                 * ln(1.0 - 2.0 * abs((CAST(h AS DOUBLE) + 0.5)
                                      / 1000000007.0 - 0.5)), 9) AS noise_r,
           CAST(n AS DOUBLE)
               + round(-2.0 * sign((CAST(h AS DOUBLE) + 0.5) / 1000000007.0 - 0.5)
                       * ln(1.0 - 2.0 * abs((CAST(h AS DOUBLE) + 0.5)
                                            / 1000000007.0 - 0.5)), 9) AS noisy_n_r
    FROM noised
    """,
)
def pseudo_dp_noisy_counts_events(spark, sf_dir):
    """DP-STYLE (not ε-DP — the noise is deterministic and bounded, so no
    formal guarantee holds) masked event-type histogram: Laplace-shaped
    noise at ε = 0.5 calibration, derandomized through the cross-engine
    content-key uniform so a re-run republishes the SAME noisy view
    instead of a second independent one. Renamed from
    dp_noisy_counts_events in r9 (advice: the old name overstated the
    guarantee). See ``operators.privacy.pseudo_dp_noisy_counts``."""
    from artigraph_spark.operators.privacy import pseudo_dp_noisy_counts

    e = load(spark, sf_dir, "events")
    return pseudo_dp_noisy_counts(e, "event_type", epsilon=0.5, seed=11)


@query(
    "quantile_normalize_quantity",
    oracle="""
    WITH hist AS (
        SELECT l_quantity AS v, CAST(count(*) AS BIGINT) AS f
        FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY l_quantity
    ), cum AS (
        SELECT v,
               CAST(sum(f) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum,
               COALESCE(CAST(sum(f) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS cumprev,
               CAST(sum(f) OVER () AS BIGINT) AS N
        FROM hist
    ), ranked AS (
        SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
               CASE WHEN l_quantity IS NOT NULL THEN
                   rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               END AS rg,
               CAST(count(l_quantity) OVER (PARTITION BY l_returnflag)
                    AS BIGINT) AS ng
        FROM lineitem
    )
    SELECT r.l_orderkey, r.l_linenumber, r.l_returnflag, r.l_quantity,
           CASE WHEN r.rg IS NOT NULL THEN c.v END AS qn_value
    FROM ranked r
    LEFT JOIN cum c
      ON r.rg IS NOT NULL
     AND CAST(r.rg AS HUGEINT) * CAST(c.N AS HUGEINT)
         > CAST(c.cumprev AS HUGEINT) * CAST(r.ng AS HUGEINT)
     AND CAST(r.rg AS HUGEINT) * CAST(c.N AS HUGEINT)
         <= CAST(c.cum AS HUGEINT) * CAST(r.ng AS HUGEINT)
    """,
)
def quantile_normalize_quantity(spark, sf_dir):
    """Quantile-normalize line-item quantities within each returnflag onto
    the global quantity distribution — the batch-effect correction; the
    rank→value mapping is four exact DECIMAL(38,0) products (ceil-free
    interval arithmetic), the lookup a broadcast interval join against
    the 50-row value histogram. See
    ``operators.quality.quantile_normalize``."""
    from artigraph_spark.operators.quality import quantile_normalize

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    return quantile_normalize(li, "l_returnflag", "l_quantity")


@query(
    "lorenz_spend_by_nation",
    oracle="""
    WITH cust AS (
        SELECT c.c_nationkey,
               CAST(SUM(CAST(floor(o.o_totalprice * 1048576.0) AS BIGINT))
                    AS BIGINT) AS vfx
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_nationkey
    ), ranked AS (
        SELECT n.n_name AS nation, vfx,
               row_number() OVER (PARTITION BY n.n_name ORDER BY vfx) AS r,
               count(*) OVER (PARTITION BY n.n_name) AS n
        FROM cust JOIN nation n ON n.n_nationkey = cust.c_nationkey
    ), b AS (
        SELECT nation, vfx, n, (10 * r + n - 1) // n AS bucket FROM ranked
    ), pb AS (
        SELECT nation, bucket, CAST(count(*) AS BIGINT) AS n_units,
               CAST(sum(vfx) AS HUGEINT) AS bs, CAST(max(n) AS BIGINT) AS n
        FROM b GROUP BY nation, bucket
    )
    SELECT nation, bucket, n_units,
           round(CAST(sum(n_units) OVER (PARTITION BY nation ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE) / CAST(n AS DOUBLE), 9) AS pop_share_r,
           CASE WHEN sum(bs) OVER (PARTITION BY nation) != 0 THEN
               round(CAST(sum(bs) OVER (PARTITION BY nation ORDER BY bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS DOUBLE)
                     / CAST(sum(bs) OVER (PARTITION BY nation) AS DOUBLE), 9)
           END AS value_share_r
    FROM pb
    """,
)
def lorenz_spend_by_nation(spark, sf_dir):
    """Lorenz-curve decile points of customer spend per nation — the curve
    behind gini_spend_by_nation's single number ("the bottom 30% of
    customers carry X% of revenue"). Units are per-customer fixed-point
    spend totals; deciles use the feature_bins integer rank arithmetic.
    See ``operators.quality.lorenz_points``."""
    from artigraph_spark.operators.quality import lorenz_points

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    from artigraph_spark.functions import fxp

    # per-customer spend through the fixed-point path (a raw double SUM
    # is partial-aggregation-order-dependent — the dsum lesson); the
    # operator consumes the already-exact fixed-point units directly.
    cust = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.sum(fxp("o_totalprice")).alias("spend_fx"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .select(F.col("n_name").alias("nation"), "spend_fx")
    )
    return lorenz_points(cust, "nation", "spend_fx", buckets=10, prescaled=True)
