"""Window-function query surface: rank family, lag/lead, running/range frames,
top-k per group. Frame sums go through DECIMAL so segment-tree vs sequential
window evaluation cannot diverge.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from artigraph_spark.queries import query
from artigraph_spark.sources import load


@query(
    "window_rank_family",
    oracle="""
    SELECT event_id, user_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
           rank() OVER (PARTITION BY user_id ORDER BY event_type) AS rnk,
           dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS drnk,
           percent_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS prnk,
           ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS quartile,
           cume_dist() OVER (PARTITION BY user_id ORDER BY event_type) AS cdist
    FROM events
    """,
    bench=True,
)
def window_rank_family(spark, sf_dir):
    """row_number/rank/dense_rank/percent_rank/ntile/cume_dist per user.

    row_number/ntile use a total order (ts, event_id); the rank family runs
    on event_type so ties are exercised deterministically.
    """
    e = load(spark, sf_dir, "events")
    w_total = W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    w_ties = W.partitionBy("user_id").orderBy(F.col("event_type"))
    return e.select(
        "event_id",
        "user_id",
        F.row_number().over(w_total).alias("rn"),
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
        F.percent_rank().over(w_ties).alias("prnk"),
        F.ntile(4).over(w_total).alias("quartile"),
        F.cume_dist().over(w_ties).alias("cdist"),
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           COALESCE(lag(value, 2) OVER w, -1.0) AS prev2_or_neg1,
           value - COALESCE(lag(value) OVER w, value) AS delta,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_lag_lead(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.coalesce(F.lag("value", 2).over(w), F.lit(-1.0)).alias("prev2_or_neg1"),
        (F.col("value") - F.coalesce(F.lag("value").over(w), F.col("value"))).alias("delta"),
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w_full).alias("last_type"),
    )


@query(
    "window_running_agg",
    oracle="""
    SELECT event_id, user_id,
           CAST(sum(CAST(floor(value * 1048576.0) AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / 1048576.0 AS running_sum,
           count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n,
           max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS max3
    FROM events
    """,
)
def window_running_agg(spark, sf_dir):
    """Running aggregates over row frames (cumulative sum/count, sliding max).
    The explicit repartition on the window key is the window's own
    exchange; it puts the fixed-point ``fxp(value)`` above it, so the
    shuffle ships ``value`` alone instead of beside its derived copy."""
    e = load(spark, sf_dir, "events").repartition("user_id")
    w = W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    w3 = w.rowsBetween(-2, W.currentRow)
    from artigraph_spark.functions import DEFAULT_BITS, fxp

    return e.select(
        "event_id",
        "user_id",
        (F.sum(fxp("value")).over(cum).cast("double") / F.lit(float(1 << DEFAULT_BITS))).alias("running_sum"),
        F.count("*").over(cum).alias("running_n"),
        F.max("value").over(w3).alias("max3"),
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                          RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_near,
           CAST(sum(CAST(floor(o_totalprice * 1048576.0) AS BIGINT))
                OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                      RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS DOUBLE)
               / 1048576.0 AS sum_near
    FROM orders
    """,
)
def window_range_frame(spark, sf_dir):
    """RANGE (value-based) frames: peers within 10k price below current.
    Repartitioned on the window key so ``fxp(o_totalprice)`` is computed
    above the exchange (see ``window_running_agg``)."""
    o = load(spark, sf_dir, "orders").repartition("o_orderstatus")
    w = (
        W.partitionBy("o_orderstatus")
        .orderBy(F.col("o_totalprice"))
        .rangeBetween(-10000, W.currentRow)
    )
    from artigraph_spark.functions import DEFAULT_BITS, fxp

    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.count("*").over(w).alias("n_near"),
        (F.sum(fxp("o_totalprice")).over(w).cast("double") / F.lit(float(1 << DEFAULT_BITS))).alias("sum_near"),
    )


@query(
    "window_topk_per_group",
    oracle="""
    SELECT o_orderstatus, o_orderkey, o_totalprice, rn FROM (
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def window_topk_per_group(spark, sf_dir):
    """Top-3 orders by price per status (WindowGroupLimit prunes map-side)."""
    from artigraph_spark.operators.windows import top_k_per_group

    o = load(spark, sf_dir, "orders")
    return top_k_per_group(
        o,
        "o_orderstatus",
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
    ).select("o_orderstatus", "o_orderkey", "o_totalprice", "rn")
