"""Multi-join analytic queries: the full TPC-H-flavored 22-query suite.

All 22 TPC-H shapes are covered: Q1 is ``agg_pricing_summary``
(queries/aggregates.py); Q3-Q10, Q13-Q15, Q17-Q19, Q22 are direct shapes
here; Q2/Q11/Q16/Q20 are adapted to the fixture's schema (no partsupp
table — observed (part, supplier) pairs from lineitem stand in) and
Q12/Q21 derive lateness from ship-vs-order dates (no commit/receipt
dates). Each docstring states its adaptation.

The reference's users compose multi-artifact joins inside producers (e.g.
``docs/examples/spend/demo.py`` joins two artifacts then aggregates); these
queries are the same pattern at warehouse scale: 3-to-8-way joins with
selective filters, group-bys, correlated subqueries and deterministic
top-k.

Plan notes (verified with .explain, see docs/PLANS.md):
  - nation/region are broadcast at every SF (truly bounded dims); part and
    supplier scale with SF, so they get no forced hint — the optimizer
    broadcasts them while small and AQE switches to a shuffle join beyond
    the threshold. Fact-fact joins (lineitem x orders) shuffle on the order
    key with AQE.
  - Date/segment filters sit in PushedFilters of the parquet scans, and
    ReadSchema carries only the referenced columns.
  - Top-k is a TakeOrderedAndProject over fixed-point (bigint) revenue —
    deterministic and cheap: no global sort materializes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from artigraph_spark.functions import (
    davg,
    dsum,
    fxp,
    oracle_davg,
    oracle_dsum,
    oracle_fxp,
)
from artigraph_spark.queries import query
from artigraph_spark.sources import load


@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey AS orderkey,
           {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue_fx,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue_fx DESC, orderkey ASC
    LIMIT 10
    """,
    bench=True,
)
def tpch_q3_shipping_priority(spark, sf_dir):
    """Q3 shape: segment-filtered customers x date-bracketed orders x
    late-shipping lineitems, top-10 open orders by revenue.

    Revenue ranks on the fixed-point (bigint) sum so the ordering is exact
    and engine-independent; the limit runs as TakeOrderedAndProject (no
    global sort). Filters push into all three scans.
    """
    cutoff = F.lit("1998-06-01 00:00:00").cast("timestamp")
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue_fx"
            )
        )
        .select(
            F.col("l_orderkey").alias("orderkey"),
            "revenue_fx",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue_fx").desc(), F.col("orderkey").asc())
        .limit(10)
    )


@query(
    "tpch_q4_late_orders",
    oracle="""
    SELECT o.o_orderpriority AS priority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    ORDER BY priority
    """,
)
def tpch_q4_late_orders(spark, sf_dir):
    """Q4 shape: order-priority counts for orders with at least one lineitem
    shipped after the order date — EXISTS as a left-semi join (no row
    duplication, no distinct needed), then a tiny 5-group aggregate.
    """
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        semi.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_orders"))
        .orderBy("priority")
    )


@query(
    "tpch_q9_nation_margin",
    oracle=f"""
    SELECT n.n_name AS nation,
           year(o.o_orderdate) AS o_year,
           {oracle_dsum('l.l_extendedprice * (1 - l.l_discount) - 0.8 * p.p_retailprice * l.l_quantity')} AS margin_fx
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY n.n_name, year(o.o_orderdate)
    ORDER BY nation, o_year
    """,
)
def tpch_q9_nation_margin(spark, sf_dir):
    """Q9 shape: per-(supplier-nation, order-year) margin over parts whose
    name matches a substring. Only nation (25 rows, truly bounded) carries an
    explicit broadcast hint — part and supplier scale linearly with SF, so
    their join strategy is left to the optimizer: below the auto-broadcast
    threshold they broadcast anyway, above it AQE picks a shuffle join
    instead of OOMing on a forced 2.5M-row broadcast. The LIKE filter pushes
    down as a string-contains on the part scan.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    margin = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.8) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(margin).alias("margin_fx"))
        .orderBy("nation", "o_year")
    )


@query(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey AS custkey, c.c_name AS name, n.n_name AS nation,
           {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue_fx
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1999-07-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_fx DESC, custkey ASC
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark, sf_dir):
    """Q10 shape: top-20 customers by revenue lost to returned items in a
    half-year window. The quarter filter and returnflag push into the fact
    scans; nation broadcasts; ranking is fixed-point so the top-20 cut is
    deterministic across engines.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-07-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue_fx"
            )
        )
        .orderBy(F.col("revenue_fx").desc(), F.col("custkey").asc())
        .limit(20)
    )


@query(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation,
           {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue_fx
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def tpch_q5_local_supplier_volume(spark, sf_dir):
    """Q5 shape: revenue by nation where customer and supplier share the
    nation, region- and date-filtered — the classic 6-way star-plus-self
    constraint. nation/region broadcast (bounded dims); the
    customer-nation = supplier-nation constraint rides the supplier join
    as a second equi-key, not a post-filter, so the join stays hash-keyed.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue_fx"))
    )


@query(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue_fx
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def tpch_q7_volume_shipping(spark, sf_dir):
    """Q7 shape: bilateral trade volume between two nations by ship year.
    Both nation joins broadcast; the nation-pair disjunction applies after
    them as a cheap post-filter on two broadcast-joined columns (it cannot
    be an equi-key — it is a cross-pair condition)."""
    s = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    return (
        s.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue_fx"))
    )


@query(
    "tpch_q14_promo_revenue",
    oracle=f"""
    SELECT round(
        100.0 * {oracle_dsum("CASE WHEN p.p_type = 'ECONOMY' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END")}
              / {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)')},
        6) AS promo_pct_r
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-03-01 00:00:00'
    """,
)
def tpch_q14_promo_revenue(spark, sf_dir):
    """Q14 shape: promo-type revenue share over a ship-date window — a
    single fact-dim join feeding two conditional fixed-point sums and one
    final division (global single-row aggregate; the only exchange is the
    partial/final aggregate pair)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-03-01 00:00:00").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0.0))
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(F.lit(100.0) * dsum(promo) / dsum(rev), 6).alias("promo_pct_r")
        )
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle=f"""
    SELECT {oracle_dsum('l_extendedprice * l_discount')} AS revenue_fx,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark, sf_dir):
    """Q6 shape: pure filter-then-aggregate on the fact table — the
    canonical predicate-pushdown benchmark. All three predicates land in
    the parquet scan's PushedFilters (ship-date min/max prune row groups
    at scale); the only exchange is the single-row partial/final pair.

    The discount BETWEEN bounds compare stored doubles against the same
    literals in both engines — bit-identical, no epsilon needed.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue_fx"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "tpch_q8_market_share",
    oracle=f"""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           round({oracle_dsum("CASE WHEN n2.n_name = 'NATION_3' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END")}
                 / {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)')}, 6) AS mkt_share_r
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
    JOIN region r ON n1.n_regionkey = r.r_regionkey
    JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
    WHERE r.r_name = 'AMERICA'
      AND p.p_type = 'STANDARD'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY year(o.o_orderdate)
    """,
)
def tpch_q8_market_share(spark, sf_dir):
    """Q8 shape: national market share — an 8-way star with *two* roles of
    the nation dim (customer-side region gate, supplier-side share
    numerator). Both nation aliases and region broadcast; part and
    supplier stay optimizer-owned; the two fact joins shuffle on their
    keys with AQE. The share is a ratio of two fixed-point sums (exact
    IEEE division), rounded to 6 — identical across engines.
    """
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        p.join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.round(dsum(nation_vol) / dsum(vol), 6).alias("mkt_share_r"))
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def tpch_q13_customer_distribution(spark, sf_dir):
    """Q13 shape: customer order-count distribution — an outer join whose
    extra predicate lives in the join condition (NOT the where clause, or
    the outer rows vanish), feeding two stacked aggregations. Pure integer
    counts: exact on any engine. At scale the first groupBy shuffles on
    custkey; the second is a tiny (distinct-count-sized) exchange.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy(c.c_custkey)
        .agg(F.count(F.col("o_orderkey")).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {oracle_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue_fx
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS supp_name, r.total_revenue_fx
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue_fx = (SELECT max(total_revenue_fx) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark, sf_dir):
    """Q15 shape: supplier(s) achieving the maximum quarterly revenue — a
    grouped revenue view compared against its own global max (the classic
    view + scalar-subquery pattern). The max is a single-row aggregate
    broadcast back over the per-supplier frame (no global sort, no second
    scan of lineitem); revenue is fixed-point so the equality is exact.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue_fx")
    )
    mx = rev.agg(F.max("total_revenue_fx").alias("__mx"))
    s = load(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue_fx") == F.col("__mx"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supp_name"),
            "total_revenue_fx",
        )
    )


@query(
    "tpch_q17_small_quantity_revenue",
    oracle=f"""
    WITH per_part AS (
        SELECT l_partkey AS pp_key,
               count(*) AS pp_cnt,
               SUM({oracle_fxp('l_quantity')}) AS pp_qty_fx
        FROM lineitem
        GROUP BY l_partkey
    )
    SELECT round({oracle_dsum('l.l_extendedprice')} / 7.0, 6) AS avg_yearly_r,
           count(*) AS n_rows
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN per_part a ON a.pp_key = l.l_partkey
    WHERE p.p_brand = 'Brand#13'
      AND 5 * {oracle_fxp('l.l_quantity')} * a.pp_cnt < a.pp_qty_fx
    """,
)
def tpch_q17_small_quantity_revenue(spark, sf_dir):
    """Q17 shape: revenue lost to small-quantity orders — the correlated
    ``l_quantity < 0.2 * avg(l_quantity) per part`` subquery, decorrelated
    into a per-part aggregate joined back to the fact. The comparison is
    done in integers (``5·q < Σq`` over fixed-point quantities scaled by
    the group count) so the threshold is exact on both engines — no
    float-division boundary rows. Two scans of lineitem: the per-part agg
    reads only (partkey, quantity); the outer scan prunes to the brand via
    the part join.
    """
    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        F.count(F.lit(1)).alias("pp_cnt"),
        F.sum(fxp("l_quantity")).alias("pp_qty_fx"),
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(per_part, F.col("pp_key") == F.col("l_partkey"))
        .filter(5 * fxp("l_quantity") * F.col("pp_cnt") < F.col("pp_qty_fx"))
        .agg(
            F.round(dsum("l_extendedprice") / 7.0, 6).alias("avg_yearly_r"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "tpch_q18_large_volume_customers",
    oracle="""
    SELECT c.c_name AS cust_name, c.c_custkey AS custkey,
           o.o_orderkey AS orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_totalprice AS totalprice,
           CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS BIGINT)) > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 100
    """,
)
def tpch_q18_large_volume_customers(spark, sf_dir):
    """Q18 shape: customers behind the largest-volume orders — a
    grouped-HAVING semi-join (IN subquery) gating a 3-way join, then a
    top-100 by order value. Quantities are integral-valued doubles in the
    fixture, so the BIGINT cast makes both the HAVING threshold and the
    output sum exact integers. The qualifying-order set is tiny (heavy
    tail), so Catalyst broadcasts the semi-join side; the top-100 runs as
    TakeOrderedAndProject (orderkey tiebreak makes it total).
    """
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("__sq"))
        .filter(F.col("__sq") > 300)
        .select("l_orderkey")
    )
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        o.join(big.withColumnRenamed("l_orderkey", "__bk"), F.col("o_orderkey") == F.col("__bk"), "left_semi")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .select(
            F.col("c_name").alias("cust_name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice").desc(), F.col("orderkey").asc())
        .limit(100)
    )


@query(
    "tpch_q19_disjunctive_revenue",
    oracle=f"""
    SELECT {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue_fx,
           count(*) AS n_rows
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive_revenue(spark, sf_dir):
    """Q19 shape: disjunctive multi-attribute predicate spanning both join
    sides — the optimizer stress-test for OR-of-ANDs. Catalyst extracts
    the common-side conjuncts: the brand∈{...} disjunction prunes the part
    scan and the quantity range prunes lineitem *before* the join; the
    residual cross-side OR evaluates post-join in codegen. Integer and
    exact-double comparisons only.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    pred = (
        ((b == "Brand#12") & sz.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#2") & sz.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#3") & sz.between(1, 35) & q.between(20, 30))
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(pred)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue_fx"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "tpch_q22_sales_opportunity",
    oracle=f"""
    WITH thr AS (
        SELECT {oracle_davg('c_acctbal')} AS avg_bal
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey AS cntrycode,
           count(*) AS numcust,
           {oracle_dsum('c.c_acctbal')} AS totacctbal_fx
    FROM customer c, thr
    WHERE c.c_acctbal > thr.avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY c.c_nationkey
    """,
)
def tpch_q22_sales_opportunity(spark, sf_dir):
    """Q22 shape (adapted: nationkey stands in for the phone country code;
    the fixture has no dormant customers, so 'no orders at all' becomes
    'no urgent orders'): well-funded customers with no urgent activity,
    bucketed by country. Exercises the scalar-subquery threshold (global
    fixed-point mean, broadcast back) plus an anti-join NOT EXISTS. The
    anti-join shuffles on custkey; the threshold compare is a single
    broadcast double, identical in both engines.
    """
    c = load(spark, sf_dir, "customer")
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(davg("c_acctbal").alias("avg_bal"))
    urgent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal_fx"),
        )
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
    WITH costs AS (
        SELECT l_partkey AS pk, l_suppkey AS sk,
               min({oracle_fxp('l_extendedprice / l_quantity')}) AS cost_fx
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    ), regional AS (
        SELECT c.pk, c.sk, c.cost_fx, s.s_name, n.n_name
        FROM costs c
        JOIN supplier s ON s.s_suppkey = c.sk
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
    ), best AS (SELECT pk, min(cost_fx) AS best_fx FROM regional GROUP BY pk)
    SELECT g.pk AS partkey, p.p_name AS part_name, g.sk AS suppkey,
           g.s_name AS supp_name, g.n_name AS nation, g.cost_fx
    FROM regional g
    JOIN best b ON b.pk = g.pk AND b.best_fx = g.cost_fx
    JOIN part p ON p.p_partkey = g.pk
    WHERE p.p_type = 'LARGE' AND p.p_size <= 15
    ORDER BY g.cost_fx ASC, partkey ASC, suppkey ASC
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(spark, sf_dir):
    """Q2 shape (adapted: the fixture has no partsupp table, so the observed
    per-(part, supplier) minimum unit price from lineitem stands in for
    ps_supplycost): for filtered parts, the Asian supplier(s) matching the
    part's regional minimum cost — the classic correlated-MIN subquery,
    decorrelated into a per-part aggregate joined back on (part, min).

    Unit price is fixed-point (floor(price/qty · 2^20) as long) so the
    min-equality join is exact on both engines. nation/region broadcast;
    the per-(part, supplier) aggregate is one shuffle on the compound key
    and the min-per-part re-aggregation reuses that partitioning. Top-100
    runs as TakeOrderedAndProject over the total (cost, part, supp) order.
    """
    li = load(spark, sf_dir, "lineitem")
    costs = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.min(fxp(F.col("l_extendedprice") / F.col("l_quantity"))).alias("cost_fx"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    regional = (
        costs.join(s, F.col("s_suppkey") == F.col("sk"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("pk", "sk", "cost_fx", "s_name", "n_name")
    )
    best = regional.groupBy("pk").agg(F.min("cost_fx").alias("best_fx"))
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 15)
    )
    return (
        regional.join(
            best.withColumnRenamed("pk", "__bp"),
            (F.col("__bp") == F.col("pk")) & (F.col("best_fx") == F.col("cost_fx")),
        )
        .join(p, F.col("p_partkey") == F.col("pk"))
        .select(
            F.col("pk").alias("partkey"),
            F.col("p_name").alias("part_name"),
            F.col("sk").alias("suppkey"),
            F.col("s_name").alias("supp_name"),
            F.col("n_name").alias("nation"),
            "cost_fx",
        )
        .orderBy(F.col("cost_fx").asc(), F.col("partkey").asc(), F.col("suppkey").asc())
        .limit(100)
    )


@query(
    "tpch_q11_important_stock",
    oracle=f"""
    WITH val AS (
        SELECT l.l_partkey AS partkey,
               CAST(SUM({oracle_fxp('l.l_extendedprice')}) AS BIGINT) AS value_fx
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE s.s_nationkey = 7
        GROUP BY l.l_partkey
    )
    SELECT val.partkey, val.value_fx
    FROM val, (SELECT CAST(SUM(value_fx) AS BIGINT) AS tot FROM val) t
    WHERE val.value_fx * 1000 > t.tot
    """,
)
def tpch_q11_important_stock(spark, sf_dir):
    """Q11 shape (adapted: shipped line value per part for one nation's
    suppliers stands in for partsupp stock value): parts whose share of the
    nation's total value exceeds 0.1% — a grouped aggregate HAVING against
    a global scalar over the *same* aggregate.

    The threshold compares integers (value_fx · 1000 > Σ value_fx), so the
    cut is exact — no float-share boundary rows. The global total is a
    single-row aggregate of the per-part frame broadcast back over it; the
    fact scans lineitem once (the per-part agg is reused for both sides of
    the comparison via the broadcast, not recomputed).
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 7)
    val = (
        li.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(fxp("l_extendedprice")).alias("value_fx"))
    )
    tot = val.agg(F.sum("value_fx").alias("tot"))
    return val.crossJoin(F.broadcast(tot)).filter(
        F.col("value_fx") * 1000 > F.col("tot")
    ).select("partkey", "value_fx")


@query(
    "tpch_q12_late_lines_by_status",
    oracle="""
    SELECT l.l_linestatus AS linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY l.l_linestatus
    ORDER BY linestatus
    """,
)
def tpch_q12_late_lines_by_status(spark, sf_dir):
    """Q12 shape (adapted: the fixture has no ship mode or commit/receipt
    dates, so linestatus buckets lines shipped >60 days after the order
    date): conditional split-counting of high- vs low-priority orders per
    bucket — the CASE-inside-SUM pivot pattern.

    The lateness predicate is a cross-table comparison, so it evaluates
    post-join in codegen (it cannot push into either scan); the join
    shuffles both facts on the order key with AQE and the 2-group final
    aggregate is a broadcast-sized result.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("linestatus")
    )


@query(
    "tpch_q16_supplier_relationships",
    oracle="""
    SELECT p.p_brand AS brand, p.p_type AS ptype, p.p_size AS psize,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'STANDARD'
      AND p.p_size IN (5, 10, 15, 20, 25, 30, 35)
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_supplier_relationships(spark, sf_dir):
    """Q16 shape (adapted: distinct (part, supplier) pairs observed in
    lineitem stand in for partsupp; negative account balance stands in for
    the complaints-comment exclusion): how many suppliers can serve each
    (brand, type, size) combination, excluding flagged suppliers.

    The pair-distinct collapses lineitem once on the compound key before
    the dimension join; the NOT IN is an anti-join against a
    broadcast-sized flagged-supplier list (s_suppkey is non-null in both
    engines, so anti-join and NOT IN agree). Brand/type/size predicates
    push into the part scan.
    """
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "STANDARD")
        & F.col("p_size").isin(5, 10, 15, 20, 25, 30, 35)
    )
    flagged = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("__fk"))
    )
    return (
        li.join(F.broadcast(flagged), F.col("l_suppkey") == F.col("__fk"), "left_anti")
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("ptype"),
            F.col("p_size").alias("psize"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q20_excess_suppliers",
    oracle="""
    WITH shipped AS (
        SELECT l.l_suppkey AS sk, l.l_partkey AS pk,
               SUM(CAST(l.l_quantity AS BIGINT)) AS sq
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_type = 'PROMO'
          AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_suppkey, l.l_partkey
    ), tot AS (SELECT pk, SUM(sq) AS tq FROM shipped GROUP BY pk)
    SELECT su.s_suppkey AS suppkey, su.s_name AS supp_name, n.n_name AS nation
    FROM (
        SELECT DISTINCT s.sk FROM shipped s
        JOIN tot t ON t.pk = s.pk
        WHERE 10 * s.sq > 3 * t.tq
    ) q
    JOIN supplier su ON su.s_suppkey = q.sk
    JOIN nation n ON n.n_nationkey = su.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE'
    """,
)
def tpch_q20_excess_suppliers(spark, sf_dir):
    """Q20 shape (adapted: a supplier "holds excess" of a part when it
    shipped >30% of that part's 1997 volume of PROMO parts — the fixture
    has no ps_availqty): European suppliers dominating any filtered part —
    a nested aggregate (per-pair, then per-part totals) gating a semi-join
    into the supplier dimension.

    The share threshold is integer math on BIGINT quantity sums (10·sq >
    3·tq) — exact in both engines. The per-part total re-aggregates the
    per-pair frame (same shuffle key prefix), and the qualifying-supplier
    set is distinct-collapsed before the tiny dimension joins, so the fact
    is scanned once.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    shipped = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("l_suppkey").alias("sk"), F.col("l_partkey").alias("pk"))
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sq"))
    )
    tot = shipped.groupBy(F.col("pk").alias("__tp")).agg(F.sum("sq").alias("tq"))
    qualifying = (
        shipped.join(tot, F.col("__tp") == F.col("pk"))
        .filter(10 * F.col("sq") > 3 * F.col("tq"))
        .select("sk")
        .distinct()
    )
    su = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        qualifying.join(su, F.col("s_suppkey") == F.col("sk"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supp_name"),
            F.col("n_name").alias("nation"),
        )
    )


@query(
    "tpch_q21_waiting_orders",
    oracle="""
    WITH late AS (
        SELECT l.l_orderkey, l.l_suppkey FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
    )
    SELECT s.s_name AS supp_name, count(*) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM late l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, supp_name ASC
    LIMIT 100
    """,
)
def tpch_q21_waiting_orders(spark, sf_dir):
    """Q21 shape (adapted: "late" is shipping >45 days after the order date
    — the fixture has no commit/receipt dates): European suppliers who
    were the *sole* late supplier on finalized multi-supplier orders. The
    EXISTS/NOT-EXISTS pair becomes a left-semi join (another supplier
    participated) stacked on a left-anti join (no other supplier was
    late), both on the order key with a supplier-inequality residual.

    The late set is computed once and reused for the outer frame and the
    anti side. Both semi/anti joins shuffle on the order key; the
    supplier-side dims broadcast. Top-100 over (numwait desc, name) is
    total because supplier names are unique.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    other = li.select(
        F.col("l_orderkey").alias("__ok2"), F.col("l_suppkey").alias("__sk2")
    )
    other_late = late.select(
        F.col("l_orderkey").alias("__ok3"), F.col("l_suppkey").alias("__sk3")
    )
    sole_late = late.join(
        other,
        (F.col("__ok2") == F.col("l_orderkey")) & (F.col("__sk2") != F.col("l_suppkey")),
        "left_semi",
    ).join(
        other_late,
        (F.col("__ok3") == F.col("l_orderkey")) & (F.col("__sk3") != F.col("l_suppkey")),
        "left_anti",
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        sole_late.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(F.col("s_name").alias("supp_name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("supp_name").asc())
        .limit(100)
    )


def _pagerank_oracle_sql(iterations: int, damping: float, bits: int) -> str:
    """DuckDB replica of the fixed-point PageRank loop, unrolled one CTE per
    iteration — every share, damp, and base term replays the Spark math
    bit-for-bit (see operators/graph.py for why the integer/double mix is
    engine-exact)."""
    one = 1 << bits
    base_num = (1.0 - damping) * one
    parts = [
        """
    WITH pe AS (
        SELECT DISTINCT l_partkey * 2 AS s, l_suppkey * 2 + 1 AS d
        FROM lineitem
    ), edges AS (
        SELECT s, d FROM pe UNION ALL SELECT d AS s, s AS d FROM pe
    ), nodes AS (
        SELECT node FROM (SELECT s AS node FROM edges UNION SELECT d FROM edges)
    ), deg AS (
        SELECT s, count(*) AS deg FROM edges GROUP BY s
    ), nn AS (
        SELECT count(*) AS n FROM nodes
    ), r0 AS (
        SELECT node, CAST(floor(CAST(%(one)r AS DOUBLE) / nn.n) AS BIGINT) AS r
        FROM nodes, nn
    )"""
        % {"one": float(one)}
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", r{i} AS (
        SELECT nd.node,
               CAST(floor(CAST({base_num!r} AS DOUBLE) / nn.n) AS BIGINT)
               + CAST(floor(CAST({damping!r} AS DOUBLE) * coalesce(c.i, 0)) AS BIGINT)
                   AS r
        FROM nodes nd CROSS JOIN nn
        LEFT JOIN (
            SELECT e.d AS node,
                   SUM(CAST(floor(CAST(rp.r AS DOUBLE) / dg.deg) AS BIGINT)) AS i
            FROM edges e
            JOIN deg dg ON e.s = dg.s
            JOIN r{i - 1} rp ON rp.node = e.s
            GROUP BY e.d
        ) c ON c.node = nd.node
    )"""
        )
    parts.append(f"\n    SELECT node, r AS rank_fx FROM r{iterations}")
    return "".join(parts)


@query("pagerank_copurchase", oracle=_pagerank_oracle_sql(8, 0.85, 30), bench=True)
def pagerank_copurchase(spark, sf_dir):
    """PageRank over the symmetrized part↔supplier co-purchase graph
    (distinct lineitem pairs as integer nodes — parts even ids, suppliers
    odd — both directions, so no dangling nodes). Eight
    fixed-point iterations; the oracle unrolls the identical loop as CTEs,
    so every node's final rank matches bit-for-bit. The iterative-join
    shape is the engine's general pattern for fixed-iteration graph
    algorithms (connected components uses the same skeleton with min-label
    instead of damped sums)."""
    from artigraph_spark.operators.graph import pagerank

    li = load(spark, sf_dir, "lineitem")
    # Integer node ids (parts even, suppliers odd): every loop shuffle
    # hashes/compares int64 instead of strings — measured ~25-30% faster
    # end-to-end at sf0.1, and the only sane key type at 100 TB.
    pe = (
        li.select(
            (F.col("l_partkey") * 2).alias("s"),
            (F.col("l_suppkey") * 2 + 1).alias("d"),
        )
        .distinct()
    )
    edges = pe.unionByName(pe.select(F.col("d").alias("s"), F.col("s").alias("d")))
    return pagerank(edges, "s", "d", iterations=8, damping=0.85, bits=30).select(
        "node", "rank_fx"
    )


@query(
    "triangle_counts_copurchase",
    bench=True,
    oracle="""
    WITH cp AS (
        SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    e AS (
        SELECT a.ck AS s1, b.ck AS s2
        FROM cp a JOIN cp b ON a.pk = b.pk AND a.ck < b.ck
        GROUP BY a.ck, b.ck HAVING count(*) >= 4
    ),
    tri AS (
        SELECT e1.s1 AS x, e1.s2 AS y, e2.s2 AS z
        FROM e e1
        JOIN e e2 ON e2.s1 = e1.s2
        JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    GROUP BY node
    """,
)
def triangle_counts_copurchase(spark, sf_dir):
    """Per-customer triangle counts over the co-purchase similarity graph
    (customers linked when they bought >= 4 common parts) — the clustering
    -coefficient numerator, a community-density signal. The engine runs
    degree-ordered wedge enumeration (each triangle found once at its
    minimum-order vertex, O(E^1.5) wedge volume); the oracle's naive
    ordered 3-way self-join finds the identical triangle set, so the
    exact integer counts must agree.
    """
    from artigraph_spark.operators.graph import triangle_counts

    return triangle_counts(_copurchase_pairs(spark, sf_dir), "s1", "s2")


def _copurchase_pairs(spark, sf_dir):
    """The co-purchase similarity edge list ``(s1, s2, overlap)``:
    customers sharing ``overlap`` >= 4 distinct parts, s1 < s2 — the
    graph of all five co-purchase graph queries, and separate so the plan
    test can lock the full production pipeline (this join included) via
    triangle_counts(materialize=False) without triggering the query's
    eager checkpoint."""
    from artigraph_spark.operators.similarity import overlap_pairs

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cp = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    return overlap_pairs(cp, "ck", "pk", 4).select(
        F.col("a").alias("s1"), F.col("b").alias("s2"), "overlap"
    )


@query(
    "clustering_coefficient",
    oracle="""
    WITH cp AS (
        SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    e AS (
        SELECT a.ck AS s1, b.ck AS s2
        FROM cp a JOIN cp b ON a.pk = b.pk AND a.ck < b.ck
        GROUP BY a.ck, b.ck HAVING count(*) >= 4
    ),
    tri AS (
        SELECT e1.s1 AS x, e1.s2 AS y, e2.s2 AS z
        FROM e e1
        JOIN e e2 ON e2.s1 = e1.s2
        JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
    ),
    tc AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) GROUP BY node
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT s1 AS node FROM e UNION ALL SELECT s2 FROM e)
        GROUP BY node
    )
    SELECT tc.node, tc.n_triangles, deg.degree,
           round(2.0 * tc.n_triangles / (deg.degree * (deg.degree - 1)), 6) AS cc_r
    FROM tc JOIN deg ON deg.node = tc.node
    """,
)
def clustering_coefficient(spark, sf_dir):
    """Per-node local clustering coefficient over the co-purchase graph:
    cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — how close each customer's
    neighborhood is to a clique, the standard community-density metric on
    top of triangle counting. Nodes in at least one triangle are reported
    (their degree is necessarily ≥ 2, so the denominator never vanishes);
    the ratio is one double division of exact integers, identical in both
    engines before the round.

    The edge frame feeds BOTH the triangle operator and the degree
    aggregate — r14 wires the previously-noted production fix through
    the scale-adaptive reuse cut (operators._adaptive.reuse_frame): one
    execution of the pair-building self-join above the input-size
    threshold, a strict no-op at bench/test scale.
    """
    from artigraph_spark.operators._adaptive import reuse_frame
    from artigraph_spark.operators.graph import triangle_counts

    pairs = reuse_frame(_copurchase_pairs(spark, sf_dir).select("s1", "s2"))
    tc = triangle_counts(pairs, "s1", "s2")
    deg = (
        pairs.select(F.col("s1").alias("n"))
        .unionAll(pairs.select(F.col("s2").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return tc.join(deg, F.col("n") == F.col("node")).select(
        "node",
        "n_triangles",
        "degree",
        F.round(
            2.0 * F.col("n_triangles") / (F.col("degree") * (F.col("degree") - 1)), 6
        ).alias("cc_r"),
    )


@query(
    "copurchase_support_pairs",
    bench=True,
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        FROM lineitem WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), nb AS (SELECT count(DISTINCT b) AS n FROM items),
    pairs AS (
        SELECT a.i AS item_a, b.i AS item_b, count(*) AS pair_cnt
        FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2
    ), counts AS (SELECT i, count(*) AS c FROM items GROUP BY 1)
    SELECT p.item_a, p.item_b, p.pair_cnt,
           ca.c AS cnt_a, cb.c AS cnt_b,
           round(CAST(p.pair_cnt * (SELECT n FROM nb) AS DOUBLE)
                 / CAST(ca.c * cb.c AS DOUBLE), 6) AS lift_r
    FROM pairs p
    JOIN counts ca ON ca.i = p.item_a
    JOIN counts cb ON cb.i = p.item_b
    ORDER BY p.pair_cnt DESC, p.item_a, p.item_b LIMIT 100
    """,
)
def copurchase_support_pairs(spark, sf_dir):
    """Market-basket mining over order lines: the top-100 part pairs by
    co-purchase support, with per-part counts and lift — the
    recommendation/affinity primitive on the same within-order pairing
    the co-purchase graph queries use (bounded basket sizes keep the
    pair join safe; `skew_audit_lineitem_orderkey` is the audit). Lift
    is one double division of exact int64 counts; the top-k is totally
    ordered. See ``operators.graph.support_pairs``."""
    from artigraph_spark.operators.graph import support_pairs

    li = load(spark, sf_dir, "lineitem")
    return support_pairs(li, "l_orderkey", "l_partkey", top_k=100)


@query(
    "bfs_hops_copurchase",
    oracle="""
    WITH RECURSIVE pe AS (
        SELECT DISTINCT l_partkey * 2 AS s, l_suppkey * 2 + 1 AS d FROM lineitem
    ), edges AS (
        SELECT s, d FROM pe UNION ALL SELECT d AS s, s AS d FROM pe
    ), seeds AS (
        SELECT DISTINCT s AS node FROM pe WHERE s <= 6
    ), walk AS (
        SELECT node, 0 AS hops FROM seeds
        UNION
        SELECT e.d AS node, w.hops + 1 AS hops
        FROM walk w JOIN edges e ON e.s = w.node
        WHERE w.hops < 4
    )
    SELECT node, CAST(min(hops) AS BIGINT) AS hops FROM walk GROUP BY node
    """,
)
def bfs_hops_copurchase(spark, sf_dir):
    """Multi-source BFS over the symmetrized part↔supplier co-purchase
    graph, seeded at parts 1-3, capped at 4 hops. Spark runs frontier
    expansion (two frontier-sized shuffles per round); the oracle replays
    it as one recursive CTE with min-hop aggregation — same fixed level
    cap, so the sets agree exactly."""
    from artigraph_spark.operators.graph import bfs_hops

    li = load(spark, sf_dir, "lineitem")
    pe = li.select(
        (F.col("l_partkey") * 2).alias("s"),
        (F.col("l_suppkey") * 2 + 1).alias("d"),
    ).distinct()
    edges = pe.unionByName(pe.select(F.col("d").alias("s"), F.col("s").alias("d")))
    seeds = pe.select(F.col("s").alias("node")).filter(F.col("node") <= 6).distinct()
    return bfs_hops(edges, "s", "d", seeds, max_hops=4)


@query(
    "adamic_adar_copurchase",
    oracle="""
    WITH cp AS (
        SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    e AS (
        SELECT a.ck AS s1, b.ck AS s2
        FROM cp a JOIN cp b ON a.pk = b.pk AND a.ck < b.ck
        GROUP BY a.ck, b.ck HAVING count(*) >= 4
    ),
    und AS (SELECT s1 AS v, s2 AS n FROM e UNION ALL SELECT s2, s1 FROM e),
    deg AS (SELECT v, CAST(count(*) AS BIGINT) AS dg FROM und GROUP BY v),
    wedges AS (
        SELECT n1.n AS u, n2.n AS w, n1.v AS mid
        FROM und n1 JOIN und n2 ON n2.v = n1.v AND n1.n < n2.n
    ),
    scored AS (
        SELECT u, w, CAST(count(*) AS BIGINT) AS n_common,
               (CAST(SUM(CAST(floor(round(1.0 / ln(CAST(dg AS DOUBLE)), 9)
                    * 1048576.0) AS BIGINT)) AS DOUBLE) / 1048576.0) AS aa
        FROM wedges JOIN deg ON deg.v = wedges.mid
        GROUP BY u, w
    ),
    nonadj AS (
        SELECT s.u, s.w, s.n_common, s.aa FROM scored s
        WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.s1 = s.u AND e.s2 = s.w)
    )
    SELECT u, w, n_common, round(aa, 9) AS aa_r,
           CAST(row_number() OVER (ORDER BY aa DESC, u, w) AS INTEGER) AS rk
    FROM nonadj QUALIFY rk <= 100
    """,
)
def adamic_adar_copurchase(spark, sf_dir):
    """Adamic–Adar link prediction over the co-purchase graph: the
    top-100 non-adjacent customer pairs most likely to become similar
    next, weighting rare shared neighbors above hubs. See
    ``operators.graph.adamic_adar``."""
    from artigraph_spark.operators.graph import adamic_adar

    pairs = _copurchase_pairs(spark, sf_dir)
    return adamic_adar(pairs, "s1", "s2", top_k=100)


def _hits_oracle_sql(iterations: int, bits: int) -> str:
    """DuckDB replica of the fixed-point HITS loop (operators/graph.py
    `hits`), one (authority, hub) CTE pair per iteration — raw sums are
    exact int64, max-normalization replays the identical
    floor(raw / max · 2^bits) double expression, so every score matches
    Spark bit-for-bit (the pagerank oracle pattern with max- instead of
    damped-sum normalization)."""
    one = float(1 << bits)
    parts = [
        f"""
    WITH e AS (
        SELECT DISTINCT l_partkey * 2 AS s, l_suppkey * 2 + 1 AS d
        FROM lineitem
    ), h0 AS (
        SELECT DISTINCT s AS node, CAST({1 << bits} AS BIGINT) AS sc FROM e
    )"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", a{i}r AS (
        SELECT e.d AS node, CAST(SUM(h{i - 1}.sc) AS BIGINT) AS raw
        FROM e JOIN h{i - 1} ON h{i - 1}.node = e.s GROUP BY e.d
    ), a{i} AS (
        SELECT node, CAST(floor(CAST(raw AS DOUBLE)
            / CAST(max(raw) OVER () AS DOUBLE) * {one!r})
            AS BIGINT) AS sc
        FROM a{i}r
    ), h{i}r AS (
        SELECT e.s AS node, CAST(SUM(a{i}.sc) AS BIGINT) AS raw
        FROM e JOIN a{i} ON a{i}.node = e.d GROUP BY e.s
    ), h{i} AS (
        SELECT node, CAST(floor(CAST(raw AS DOUBLE)
            / CAST(max(raw) OVER () AS DOUBLE) * {one!r})
            AS BIGINT) AS sc
        FROM h{i}r
    )"""
        )
    parts.append(
        f"""
    SELECT node, 'hub' AS role, sc AS score_fx FROM h{iterations}
    UNION ALL
    SELECT node, 'auth' AS role, sc AS score_fx FROM a{iterations}"""
    )
    return "".join(parts)


@query("hits_copurchase", oracle=_hits_oracle_sql(6, 30))
def hits_copurchase(spark, sf_dir):
    """HITS hubs & authorities over the directed part→supplier co-purchase
    graph (parts score as hubs, suppliers as authorities — the bipartite
    curation shape PageRank's single score conflates). Six fixed-point
    iterations with max-normalization; the oracle unrolls the identical
    loop, so every score matches bit-for-bit. See
    ``operators.graph.hits``."""
    from artigraph_spark.operators.graph import hits

    li = load(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_partkey") * 2).alias("s"),
        (F.col("l_suppkey") * 2 + 1).alias("d"),
    ).distinct()
    return hits(edges, "s", "d", iterations=6, bits=30)


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """DuckDB replica of the k-core peel (operators/graph.py `k_core`):
    one MATERIALIZED CTE per round — each round references its
    predecessor three times (degree + both endpoint filters), so
    without materialization DuckDB's CTE inlining re-evaluates the
    prefix 3^rounds times. Rounds past convergence are no-ops, which is
    what makes this fixed-round unroll equal to Spark's early-exited
    loop."""
    parts = [
        """
    WITH cp AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), pe AS MATERIALIZED (
        SELECT a.ck AS s1, b.ck AS s2
        FROM cp a JOIN cp b ON a.pk = b.pk AND a.ck < b.ck
        GROUP BY a.ck, b.ck HAVING count(*) >= 4
    ), e0 AS MATERIALIZED (
        SELECT s1 AS s, s2 AS d FROM pe
        UNION ALL SELECT s2 AS s, s1 AS d FROM pe
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", k{r} AS MATERIALIZED (
        SELECT s FROM e{r - 1} GROUP BY s HAVING count(*) >= {k}
    ), e{r} AS MATERIALIZED (
        SELECT e.s, e.d FROM e{r - 1} e
        JOIN k{r} ks ON ks.s = e.s
        JOIN k{r} kd ON kd.s = e.d
    )"""
        )
    parts.append(
        f"""
    SELECT s AS node, CAST(count(*) AS BIGINT) AS core_deg
    FROM e{rounds} GROUP BY s"""
    )
    return "".join(parts)


@query("kcore_copurchase", oracle=_kcore_oracle_sql(4, 8))
def kcore_copurchase(spark, sf_dir):
    """4-core of the customer co-purchase graph (customers adjacent when
    they share ≥4 distinct parts — the triangle query's graph): peel
    degree-<4 nodes to a fixpoint; the surviving dense nucleus is the
    community-core / spam-ring extraction primitive. Spark exits at
    convergence; the oracle unrolls 8 fixed rounds whose post-
    convergence rounds are no-ops. See ``operators.graph.k_core``."""
    from artigraph_spark.operators.graph import k_core

    return k_core(_copurchase_pairs(spark, sf_dir), "s1", "s2", k=4, max_rounds=8)


@query(
    "association_rules_parts",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ), nb AS (
        SELECT CAST(count(DISTINCT b) AS BIGINT) AS nb FROM items
    ), up AS (
        SELECT a.i AS ia, c.i AS ib, CAST(count(*) AS BIGINT) AS pair_cnt
        FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), rules AS (
        SELECT ia AS antecedent, ib AS consequent, pair_cnt FROM up
        UNION ALL
        SELECT ib AS antecedent, ia AS consequent, pair_cnt FROM up
    ), counts AS (
        SELECT i, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY i
    )
    SELECT r.antecedent, r.consequent, r.pair_cnt,
           ca.c AS cnt_a, cb.c AS cnt_b,
           round(CAST(r.pair_cnt AS DOUBLE) / CAST(nb.nb AS DOUBLE), 9)
               AS support_r,
           round(CAST(r.pair_cnt AS DOUBLE) / CAST(ca.c AS DOUBLE), 9)
               AS confidence_r,
           round(CAST(CAST(r.pair_cnt AS HUGEINT) * CAST(nb.nb AS HUGEINT)
                      AS DOUBLE)
                 / CAST(CAST(ca.c AS HUGEINT) * CAST(cb.c AS HUGEINT)
                        AS DOUBLE), 6) AS lift_r,
           CASE WHEN round(CAST(r.pair_cnt AS DOUBLE) / CAST(ca.c AS DOUBLE), 9)
                     < 1.0
                THEN round((1.0 - CAST(cb.c AS DOUBLE) / CAST(nb.nb AS DOUBLE))
                           / (1.0 - round(CAST(r.pair_cnt AS DOUBLE)
                                          / CAST(ca.c AS DOUBLE), 9)), 9)
           END AS conviction_r
    FROM rules r
    JOIN counts ca ON ca.i = r.antecedent
    JOIN counts cb ON cb.i = r.consequent
    CROSS JOIN nb
    ORDER BY confidence_r DESC, r.pair_cnt DESC, r.antecedent, r.consequent
    LIMIT 100
    """,
)
def association_rules_parts(spark, sf_dir):
    """Top-100 one-level association rules part_a→part_b over order
    baskets: support, confidence, lift, conviction — the directional
    cross-sell reading of copurchase_support_pairs, exact ratios on the
    guard grid and a distributed TakeOrdered top-k. See
    ``operators.graph.association_rules``."""
    from artigraph_spark.operators.graph import association_rules

    li = load(spark, sf_dir, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_pair_cnt=2, top_k=100
    )


def _sp_oracle_sql(max_hops: int) -> str:
    """DuckDB replica of the bounded-hop Bellman–Ford
    (operators/graph.py `shortest_paths_bounded`) over the weighted
    customer co-purchase graph: MATERIALIZED round CTEs (each references
    its predecessor twice — relax + carry)."""
    parts = [
        """
    WITH cp AS MATERIALIZED (
        SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), pe AS MATERIALIZED (
        SELECT a.ck AS s1, b.ck AS s2, CAST(count(*) AS BIGINT) AS c
        FROM cp a JOIN cp b ON a.pk = b.pk AND a.ck < b.ck
        GROUP BY a.ck, b.ck HAVING count(*) >= 4
    ), e AS MATERIALIZED (
        SELECT s1 AS s, s2 AS d, 1000000 // c + 1 AS w FROM pe
        UNION ALL SELECT s2 AS s, s1 AS d, 1000000 // c + 1 AS w FROM pe
    ), d0 AS MATERIALIZED (
        SELECT DISTINCT s AS node, CAST(0 AS BIGINT) AS dist FROM e
        WHERE s % 100 = 0
    )"""
    ]
    for r in range(1, max_hops + 1):
        parts.append(
            f""", d{r} AS MATERIALIZED (
        SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
            SELECT node, dist FROM d{r - 1}
            UNION ALL
            SELECT e.d AS node, d{r - 1}.dist + e.w AS dist
            FROM e JOIN d{r - 1} ON d{r - 1}.node = e.s
        ) GROUP BY node
    )"""
        )
    parts.append(f"""
    SELECT node, dist FROM d{max_hops}""")
    return "".join(parts)


@query("shortest_paths_copurchase", oracle=_sp_oracle_sql(6))
def shortest_paths_copurchase(spark, sf_dir):
    """Cheapest ≤6-hop weighted distances from every 100th customer over
    the co-purchase graph (edge weight 1000000 div shared-parts + 1 —
    stronger ties are shorter): bounded-hop multi-source Bellman–Ford,
    the weighted sibling of bfs_hops. Exact integer relaxation replays
    in the MATERIALIZED-CTE oracle. See
    ``operators.graph.shortest_paths_bounded``."""
    from artigraph_spark.operators.graph import shortest_paths_bounded

    pe = _copurchase_pairs(spark, sf_dir)
    w = F.expr("1000000 div overlap + 1")
    e = pe.select(F.col("s1").alias("s"), F.col("s2").alias("d"), w.alias("w")).unionByName(
        pe.select(F.col("s2").alias("s"), F.col("s1").alias("d"), w.alias("w"))
    )
    seeds = e.select("s").distinct().filter(F.col("s") % 100 == 0)
    return shortest_paths_bounded(e, "s", "d", "w", seeds, max_hops=6)
