"""Round-9 query registrations: exact order statistics (built on the
bucketed prefix-sum rank primitive), cross-correlation, time-weighted
averages, and the integrity/calibration/duplication audits.

Oracle-authoring conventions (FIXTURES.md + driver-contract rules):
every aggregate that DuckDB would type HUGEINT is CAST AS BIGINT at the
outermost level; window sums are CAST inside their CTEs; doubles ride
the fixed-point grid with one rounded division; column aliases match
the Spark side exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from artigraph_spark.queries import query
from artigraph_spark.sources import load


@query(
    "exact_quantiles_quantity",
    bench=True,
    oracle="""
    WITH hist AS (
        SELECT l_returnflag AS g, l_quantity AS v, CAST(count(*) AS BIGINT) AS f
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity)
        GROUP BY 1, 2
    ), cum AS (
        SELECT g, v, f,
               CAST(COALESCE(sum(f) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cp,
               CAST(sum(f) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cm,
               CAST(sum(f) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM hist
    ), qs(q, qn, qd) AS (
        VALUES (CAST(0.25 AS DOUBLE), 1, 4),
               (CAST(0.5 AS DOUBLE), 1, 2),
               (CAST(0.75 AS DOUBLE), 3, 4)
    )
    SELECT g AS l_returnflag, q, n, v AS value
    FROM cum, qs
    WHERE CAST(qn AS HUGEINT) * CAST(n AS HUGEINT)
          > CAST(cp AS HUGEINT) * CAST(qd AS HUGEINT)
      AND CAST(qn AS HUGEINT) * CAST(n AS HUGEINT)
          <= CAST(cm AS HUGEINT) * CAST(qd AS HUGEINT)
    """,
)
def exact_quantiles_quantity(spark, sf_dir):
    """Exact per-returnflag quartiles of line-item quantity (type-1, the
    value at rank ceil(q·n)) — the reproducible counterpart of the
    approx-quantile sketch, computed without any per-group
    single-partition sort via the r9 bucketed prefix-sum rank. See
    ``operators.orderstats.exact_group_quantiles``."""
    from artigraph_spark.operators.orderstats import exact_group_quantiles

    li = load(spark, sf_dir, "lineitem")
    return exact_group_quantiles(li, ["l_returnflag"], "l_quantity", [0.25, 0.5, 0.75])


@query(
    "trimmed_mean_price",
    oracle="""
    WITH hist AS (
        SELECT l_returnflag AS g, l_extendedprice AS v,
               CAST(count(*) AS BIGINT) AS f
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
        GROUP BY 1, 2
    ), cum AS (
        SELECT g, v, f,
               CAST(COALESCE(sum(f) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cp,
               CAST(sum(f) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cm,
               CAST(sum(f) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM hist
    ), kept AS (
        SELECT g, v, n,
               greatest(0, least(cm, n - (1 * n) // 10)
                           - greatest(cp, (1 * n) // 10)) AS kf
        FROM cum
    )
    SELECT g AS l_returnflag,
           CAST(max(n) AS BIGINT) AS n,
           CAST(sum(kf) AS BIGINT) AS n_kept,
           round(CAST(sum(CAST(kf AS HUGEINT)
                          * CAST(floor(v * 1048576.0) AS BIGINT)) AS DOUBLE)
                 / 1048576.0 / CAST(sum(kf) AS DOUBLE), 9) AS trimmed_mean_r
    FROM kept GROUP BY g
    """,
)
def trimmed_mean_price(spark, sf_dir):
    """Exact 10%-trimmed mean of extended price per returnflag — drop
    exactly floor(n/10) rows from each end of the order, fixed-point mean
    of the rest; the outlier-robust location estimate between mean and
    median. See ``operators.orderstats.trimmed_mean_by_group``."""
    from artigraph_spark.operators.orderstats import trimmed_mean_by_group

    li = load(spark, sf_dir, "lineitem")
    return trimmed_mean_by_group(li, ["l_returnflag"], "l_extendedprice", trim=0.1)


@query(
    "tukey_outliers_quantity",
    oracle="""
    WITH hist AS (
        SELECT l_returnflag AS g, l_quantity AS v, CAST(count(*) AS BIGINT) AS f
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity)
        GROUP BY 1, 2
    ), cum AS (
        SELECT g, v, f,
               CAST(COALESCE(sum(f) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cp,
               CAST(sum(f) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cm,
               CAST(sum(f) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM hist
    ), quarts AS (
        SELECT g, max(n) AS n,
               min(CASE WHEN CAST(1 AS HUGEINT) * n > CAST(cp AS HUGEINT) * 4
                         AND CAST(1 AS HUGEINT) * n <= CAST(cm AS HUGEINT) * 4
                        THEN v END) AS q1,
               min(CASE WHEN CAST(3 AS HUGEINT) * n > CAST(cp AS HUGEINT) * 4
                         AND CAST(3 AS HUGEINT) * n <= CAST(cm AS HUGEINT) * 4
                        THEN v END) AS q3
        FROM cum GROUP BY g
    ), fences AS (
        SELECT g, n, q1, q3,
               q1 - 1.5 * (q3 - q1) AS lo,
               q3 + 1.5 * (q3 - q1) AS hi
        FROM quarts
    )
    SELECT f.g AS l_returnflag,
           CAST(f.n AS BIGINT) AS n,
           f.q1, f.q3,
           round(f.lo, 9) AS lo_fence_r,
           round(f.hi, 9) AS hi_fence_r,
           CAST(COALESCE(sum(CASE WHEN h.v < f.lo THEN h.f END), 0)
                AS BIGINT) AS n_low,
           CAST(COALESCE(sum(CASE WHEN h.v > f.hi THEN h.f END), 0)
                AS BIGINT) AS n_high
    FROM fences f JOIN hist h ON h.g = f.g
    GROUP BY f.g, f.n, f.q1, f.q3, f.lo, f.hi
    """,
)
def tukey_outliers_quantity(spark, sf_dir):
    """Tukey boxplot fences for quantity per returnflag: exact quartiles,
    Q1−1.5·IQR / Q3+1.5·IQR, and the outlier counts outside each fence —
    the distribution-light third member of the z-score/MAD outlier-audit
    family. See ``operators.orderstats.tukey_fences``."""
    from artigraph_spark.operators.orderstats import tukey_fences

    li = load(spark, sf_dir, "lineitem")
    return tukey_fences(li, ["l_returnflag"], "l_quantity")


@query(
    "spearman_price_quantity",
    bench=True,
    oracle="""
    WITH base AS (
        SELECT l_extendedprice AS x, l_quantity AS y FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
          AND l_quantity IS NOT NULL AND NOT isnan(l_quantity)
    ), xh AS (
        SELECT x AS v, CAST(count(*) AS BIGINT) AS f FROM base GROUP BY 1
    ), xr AS (
        SELECT v,
               CAST(2 * (1 + CAST(COALESCE(sum(f) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT)) + f - 1 AS BIGINT) AS r2
        FROM xh
    ), yh AS (
        SELECT y AS v, CAST(count(*) AS BIGINT) AS f FROM base GROUP BY 1
    ), yr AS (
        SELECT v,
               CAST(2 * (1 + CAST(COALESCE(sum(f) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT)) + f - 1 AS BIGINT) AS r2
        FROM yh
    ), j AS (
        SELECT xr.r2 AS rx, yr.r2 AS ry
        FROM base JOIN xr ON base.x = xr.v JOIN yr ON base.y = yr.v
    ), s AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               sum(CAST(rx AS HUGEINT)) AS sx,
               sum(CAST(ry AS HUGEINT)) AS sy,
               sum(CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT)) AS sxx,
               sum(CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT)) AS syy,
               sum(CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT)) AS sxy
        FROM j
    )
    SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
                 AND CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 9)
           END AS rho_r
    FROM s
    """,
)
def spearman_price_quantity(spark, sf_dir):
    """Spearman rank correlation between extended price and quantity —
    Pearson over tie-averaged ranks (kept exact by 2x scaling), both
    rank maps computed by the bucketed prefix-sum histogram, never a
    global sort. See ``operators.orderstats.spearman_corr``."""
    from artigraph_spark.operators.orderstats import spearman_corr

    li = load(spark, sf_dir, "lineitem")
    return spearman_corr(li, "l_extendedprice", "l_quantity")


@query(
    "spearman_price_quantity_quantized",
    oracle="""
    WITH base AS (
        SELECT CAST(floor(l_extendedprice * 0.0625) AS BIGINT) AS x,
               l_quantity AS y FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
          AND l_quantity IS NOT NULL AND NOT isnan(l_quantity)
    ), xh AS (
        SELECT x AS v, CAST(count(*) AS BIGINT) AS f FROM base GROUP BY 1
    ), xr AS (
        SELECT v,
               CAST(2 * (1 + CAST(COALESCE(sum(f) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT)) + f - 1 AS BIGINT) AS r2
        FROM xh
    ), yh AS (
        SELECT y AS v, CAST(count(*) AS BIGINT) AS f FROM base GROUP BY 1
    ), yr AS (
        SELECT v,
               CAST(2 * (1 + CAST(COALESCE(sum(f) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT)) + f - 1 AS BIGINT) AS r2
        FROM yh
    ), j AS (
        SELECT xr.r2 AS rx, yr.r2 AS ry
        FROM base JOIN xr ON base.x = xr.v JOIN yr ON base.y = yr.v
    ), s AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               sum(CAST(rx AS HUGEINT)) AS sx,
               sum(CAST(ry AS HUGEINT)) AS sy,
               sum(CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT)) AS sxx,
               sum(CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT)) AS syy,
               sum(CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT)) AS sxy
        FROM j
    )
    SELECT CAST(n AS BIGINT) AS n,
           CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
                 AND CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 9)
           END AS rho_r
    FROM s
    """,
)
def spearman_price_quantity_quantized(spark, sf_dir):
    """Quantized-rank Spearman for the near-unique price column: price
    is snapped to a 16-unit fixed-point grid (floor(x·2^-4) — the
    kmeans/PCA quantization convention) BEFORE ranking, so the rank map
    is bounded at range/16 cells independent of row count and the two
    rank-map joins broadcast — the scale path when the value column is
    near-unique and the exact rank map would be data-sized. The
    statistic is Spearman over the binned price (ties averaged within a
    cell); exact mode stays the default in ``spearman_price_quantity``.
    See ``operators.orderstats.spearman_corr``."""
    from artigraph_spark.operators.orderstats import spearman_corr

    li = load(spark, sf_dir, "lineitem")
    return spearman_corr(li, "l_extendedprice", "l_quantity", x_quantize_bits=-4)


def _ccf_oracle_sql(bucket: int, max_lag: int, ta: str, tb: str) -> str:
    lags = list(range(-max_lag, max_lag + 1))
    shift_cols = []
    for k in lags:
        i = k + max_lag
        if k >= 0:
            shift_cols.append(f"lead(db, {k}) OVER w AS s{i}")
        else:
            shift_cols.append(f"lag(db, {-k}) OVER w AS s{i}")
    sums = []
    for k in lags:
        i = k + max_lag
        sums.append(
            f"sum(CAST(da AS HUGEINT) * CAST(s{i} AS HUGEINT)) AS num{i}, "
            f"CAST(count(s{i}) AS BIGINT) AS np{i}"
        )
    arms = []
    for k in lags:
        i = k + max_lag
        arms.append(
            f"SELECT CAST({k} AS BIGINT) AS lag, np{i} AS n_pairs, "
            f"CASE WHEN sqrt(CAST(vda AS DOUBLE) * CAST(vdb AS DOUBLE)) > 0 "
            f"THEN round(CAST(num{i} AS DOUBLE) "
            f"/ sqrt(CAST(vda AS DOUBLE) * CAST(vdb AS DOUBLE)), 9) END AS ccf_r "
            f"FROM agg"
        )
    return f"""
    WITH ca AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) // {bucket} * {bucket} AS b,
               CAST(count(*) AS BIGINT) AS y
        FROM events WHERE ts IS NOT NULL AND event_type = '{ta}' GROUP BY 1
    ), cb AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) // {bucket} * {bucket} AS b,
               CAST(count(*) AS BIGINT) AS y
        FROM events WHERE ts IS NOT NULL AND event_type = '{tb}' GROUP BY 1
    ), grid AS (
        SELECT COALESCE(ca.b, cb.b) AS b,
               COALESCE(ca.y, 0) AS ya, COALESCE(cb.y, 0) AS yb
        FROM ca FULL OUTER JOIN cb ON ca.b = cb.b
    ), st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(ya) AS BIGINT) AS tta, CAST(sum(yb) AS BIGINT) AS ttb
        FROM grid
    ), d AS (
        SELECT b, CAST(st.n * ya - st.tta AS BIGINT) AS da,
               CAST(st.n * yb - st.ttb AS BIGINT) AS db
        FROM grid, st
    ), l AS (
        SELECT da, db, {", ".join(shift_cols)}
        FROM d WINDOW w AS (ORDER BY b)
    ), agg AS (
        SELECT sum(CAST(da AS HUGEINT) * CAST(da AS HUGEINT)) AS vda,
               sum(CAST(db AS HUGEINT) * CAST(db AS HUGEINT)) AS vdb,
               {", ".join(sums)}
        FROM l
    )
    {" UNION ALL ".join(arms)}
    """


@query("ccf_click_purchase", oracle=_ccf_oracle_sql(3600, 12, "click", "purchase"))
def ccf_click_purchase(spark, sf_dir):
    """Cross-correlation between hourly click and purchase volumes at
    lags −12..+12 — the lead/lag detector ("clicks lead purchases by k
    hours"); exact integer deviations over the union grid, one double
    division per lag. See ``operators.timeseries.ccf_lags``."""
    from artigraph_spark.operators.timeseries import ccf_lags

    e = load(spark, sf_dir, "events")
    return ccf_lags(
        e, "ts", "event_type", "click", "purchase", bucket_seconds=3600, max_lag=12
    )


@query(
    "twap_user_value",
    oracle="""
    WITH base AS (
        SELECT user_id AS u, epoch_us(ts) AS t, event_id AS id,
               CASE WHEN value IS NOT NULL AND NOT isnan(value)
                    THEN value END AS v
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), stepped AS (
        SELECT u, v,
               lead(t, 1) OVER (PARTITION BY u ORDER BY t, id) - t AS dur
        FROM base
    )
    SELECT u AS user_id,
           CAST(count(*) + 1 AS BIGINT) AS n_events,
           CAST(sum(dur) AS BIGINT) AS span_us,
           CASE WHEN sum(dur) > 0 THEN
           round(CAST(sum(CAST(COALESCE(CAST(floor(v * 1048576.0) AS BIGINT), 0)
                               AS HUGEINT)
                          * CAST(dur AS HUGEINT)) AS DOUBLE)
                 / 1048576.0 / CAST(sum(dur) AS DOUBLE), 9) END AS twap_r
    FROM stepped WHERE dur IS NOT NULL GROUP BY u
    """,
)
def twap_user_value(spark, sf_dir):
    """Time-weighted average event value per user (each reading holds
    until the next; exact µs durations × fixed-point values) — the
    uneven-sampling mean that a plain average gets wrong. See
    ``operators.timeseries.time_weighted_avg``."""
    from artigraph_spark.operators.timeseries import time_weighted_avg

    e = load(spark, sf_dir, "events")
    return time_weighted_avg(e)


@query(
    "fk_orphans_audit",
    oracle="""
    SELECT 'lineitem->orders' AS relation,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_keys,
           CAST(sum(CASE WHEN l.l_orderkey IS NOT NULL
                          AND o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans,
           CASE WHEN sum(CASE WHEN l.l_orderkey IS NOT NULL THEN 1 ELSE 0 END) > 0
                THEN round(
                    CAST(sum(CASE WHEN l.l_orderkey IS NOT NULL
                                   AND o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                         AS DOUBLE)
                    / CAST(sum(CASE WHEN l.l_orderkey IS NOT NULL THEN 1 ELSE 0 END)
                           AS DOUBLE), 9) END AS orphan_rate_r
    FROM lineitem l
    LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders->customer' AS relation,
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN od.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(sum(CASE WHEN od.o_custkey IS NOT NULL
                          AND c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CASE WHEN sum(CASE WHEN od.o_custkey IS NOT NULL THEN 1 ELSE 0 END) > 0
                THEN round(
                    CAST(sum(CASE WHEN od.o_custkey IS NOT NULL
                                   AND c.c_custkey IS NULL THEN 1 ELSE 0 END)
                         AS DOUBLE)
                    / CAST(sum(CASE WHEN od.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
                           AS DOUBLE), 9) END
    FROM orders od
    LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON od.o_custkey = c.c_custkey
    """,
)
def fk_orphans_audit(spark, sf_dir):
    """Referential-integrity audit of the fixture's two FK relations
    (lineitem→orders, orders→customer): orphan counts and rates, NULL
    keys counted separately (SQL FK semantics). See
    ``operators.quality.fk_integrity_audit``."""
    from artigraph_spark.operators.quality import fk_integrity_audit

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    a = fk_integrity_audit(li, "l_orderkey", o, "o_orderkey", relation="lineitem->orders")
    b = fk_integrity_audit(o, "o_custkey", c, "c_custkey", relation="orders->customer")
    return a.unionByName(b)


@query(
    "calibration_price_returns",
    oracle="""
    WITH base AS (
        SELECT l_discount AS s,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
        -- NULL labels are dropped on BOTH sides: calibration_bins
        -- excludes NULL y, so the oracle must not map NULL flag -> 0.
        WHERE l_discount IS NOT NULL AND NOT isnan(l_discount)
          AND l_returnflag IS NOT NULL
    ), rng AS (
        SELECT min(s) AS lo, max(s) AS hi FROM base
    ), binned AS (
        SELECT CASE WHEN rng.hi > rng.lo
                    THEN CAST(least(floor((base.s - rng.lo) * 10.0
                                          / (rng.hi - rng.lo)), 9) AS BIGINT)
                    ELSE 0 END AS bin,
               base.s, base.y
        FROM base, rng
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           round((CAST(SUM(CAST(floor(s * 1048576.0) AS BIGINT)) AS DOUBLE)
                  / 1048576.0) / COUNT(s), 9) AS mean_score_r,
           round(CAST(CAST(sum(y) AS BIGINT) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 9) AS pos_rate_r
    FROM binned GROUP BY bin
    """,
)
def calibration_price_returns(spark, sf_dir):
    """Reliability table: equi-width discount bins vs the observed
    return rate — the calibration-curve data (does a higher discount
    coincide with more returns?), AUC's honesty companion. See
    ``operators.quality.calibration_bins``."""
    from artigraph_spark.operators.quality import calibration_bins

    li = load(spark, sf_dir, "lineitem").withColumn(
        "is_return", (F.col("l_returnflag") == "R").cast("int")
    )
    return calibration_bins(li, "l_discount", "is_return", bins=10)


@query(
    "dup_rate_by_source",
    oracle="""
    WITH ph AS (
        SELECT source AS g,
               CASE WHEN text IS NOT NULL THEN sha256(text) END AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    )
    SELECT g AS source,
           CAST(sum(CASE WHEN h IS NOT NULL THEN c ELSE 0 END) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN h IS NULL THEN c ELSE 0 END) AS BIGINT)
               AS n_null_texts,
           CAST(sum(CASE WHEN h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_distinct,
           CASE WHEN sum(CASE WHEN h IS NOT NULL THEN c ELSE 0 END) > 0 THEN
               round(CAST(1 AS DOUBLE)
                     - CAST(CAST(sum(CASE WHEN h IS NOT NULL THEN 1 ELSE 0 END)
                                 AS BIGINT) AS DOUBLE)
                       / CAST(CAST(sum(CASE WHEN h IS NOT NULL THEN c ELSE 0 END)
                                   AS BIGINT) AS DOUBLE), 9) END AS dup_rate_r
    FROM ph GROUP BY g
    """,
)
def dup_rate_by_source(spark, sf_dir):
    """Per-source exact-duplication report over the documents corpus:
    doc counts, distinct sha256 content counts, duplicate-mass rate —
    the corpus-health readout that gates (and certifies) the dedup
    pass. See ``operators.quality.duplication_report``."""
    from artigraph_spark.operators.quality import duplication_report

    d = load(spark, sf_dir, "documents")
    return duplication_report(d, "source", "text")


def _bh_oracle_sql() -> str:
    from artigraph_spark.functions import oracle_phi

    phi = oracle_phi("abs(z_r)")
    return f"""
    WITH per AS (
        SELECT CAST(hour(ts) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS successes
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn,
               CAST(sum(successes) AS BIGINT) AS ss
        FROM per
    ), sc AS (
        SELECT bucket, n, successes,
               round(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE), 9) AS rate_r,
               CASE WHEN (nn - n) > 0
                     AND (CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))
                         * (1.0 - CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))
                         * (1.0 / CAST(n AS DOUBLE)
                            + 1.0 / CAST(nn - n AS DOUBLE)) > 0
                    THEN round(
                        (CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
                         - CAST(ss - successes AS DOUBLE)
                           / CAST(nn - n AS DOUBLE))
                        / sqrt((CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))
                               * (1.0 - CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))
                               * (1.0 / CAST(n AS DOUBLE)
                                  + 1.0 / CAST(nn - n AS DOUBLE))), 9) END AS z_r
        FROM per, tot
    ), pv AS (
        SELECT bucket, n, successes, rate_r, z_r,
               CASE WHEN z_r IS NOT NULL
                    THEN round(2.0 * (1.0 - {phi}), 9) END AS p_r
        FROM sc
    ), ranked AS (
        SELECT *,
               CAST(row_number() OVER (ORDER BY p_r ASC NULLS LAST,
                                       bucket ASC NULLS LAST) AS BIGINT) AS j,
               CAST(sum(CASE WHEN p_r IS NOT NULL THEN 1 ELSE 0 END) OVER ()
                    AS BIGINT) AS m
        FROM pv
    ), tl AS (
        SELECT *,
               min(p_r * CAST(m AS DOUBLE) / CAST(j AS DOUBLE))
                   OVER (ORDER BY j DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS rawadj
        FROM ranked
    )
    SELECT bucket, n, successes, rate_r, z_r, p_r,
           CASE WHEN p_r IS NOT NULL
                THEN least(round(rawadj, 9), CAST(1 AS DOUBLE)) END AS p_adj_r,
           CASE WHEN p_r IS NOT NULL
                THEN least(round(rawadj, 9), CAST(1 AS DOUBLE)) <= 0.05
           END AS reject
    FROM tl
    """


@query("hourly_conversion_bh", oracle=_bh_oracle_sql())
def hourly_conversion_bh(spark, sf_dir):
    """Which hours of day REALLY convert differently: per-hour
    two-proportion z-tests of purchase rate vs the rest, p-values via
    the engine-identical normal-CDF polynomial, Benjamini–Hochberg FDR
    correction across the 24 tests — the multiple-testing audit (raw
    p<0.05 across 24 buckets expects ~1.2 false positives). See
    ``operators.quality.proportion_ztests_bh`` and
    ``functions.phi_approx``."""
    from artigraph_spark.operators.quality import proportion_ztests_bh

    # bigint hour: Spark's hour() yields int32 while the oracle's
    # CAST(... AS BIGINT) is int64 — the driver's schema compare is
    # type-exact, so align the bucket type on the Spark side.
    e = load(spark, sf_dir, "events").withColumn(
        "hour", F.hour("ts").cast("bigint")
    )
    return proportion_ztests_bh(
        e, "hour", F.col("event_type") == "purchase", alpha=0.05
    )


@query(
    "length_band_filter_docs",
    oracle="""
    WITH hist AS (
        SELECT lang AS g, n_chars AS v, CAST(count(*) AS BIGINT) AS f
        FROM documents
        WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ), cum AS (
        SELECT g, v, f,
               CAST(COALESCE(sum(f) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cp,
               CAST(sum(f) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cm,
               CAST(sum(f) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM hist
    ), bands AS (
        SELECT g,
               min(CASE WHEN CAST(1 AS HUGEINT) * n > CAST(cp AS HUGEINT) * 20
                         AND CAST(1 AS HUGEINT) * n <= CAST(cm AS HUGEINT) * 20
                        THEN v END) AS lo,
               min(CASE WHEN CAST(19 AS HUGEINT) * n > CAST(cp AS HUGEINT) * 20
                         AND CAST(19 AS HUGEINT) * n <= CAST(cm AS HUGEINT) * 20
                        THEN v END) AS hi
        FROM cum GROUP BY g
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d JOIN bands b ON d.lang = b.g
    WHERE d.n_chars IS NOT NULL
      AND d.n_chars >= b.lo AND d.n_chars <= b.hi
    """,
)
def length_band_filter_docs(spark, sf_dir):
    """Per-language document length-band filter: keep documents whose
    length sits inside the language's exact [p05, p95] band — the
    corpus-cleaning step that drops truncation stubs and concatenation
    monsters per language instead of with one global cutoff (a global
    band over mixed languages mostly filters the SHORT languages). The
    cut points are exact type-1 quantiles — reproducible across engines
    and reruns, which a sampled approx-percentile cut is not. One
    composition: exact_group_quantiles → per-lang band frame →
    broadcast-sized join + pushable range filter."""
    from artigraph_spark.operators.orderstats import exact_group_quantiles

    d = load(spark, sf_dir, "documents")
    bands = (
        exact_group_quantiles(d, ["lang"], "n_chars", [0.05, 0.95])
        .groupBy("lang")
        .agg(
            F.min(F.when(F.col("q") == 0.05, F.col("value"))).alias("__lo"),
            F.min(F.when(F.col("q") == 0.95, F.col("value"))).alias("__hi"),
        )
        .withColumnRenamed("lang", "__bl")
    )
    return (
        d.filter(F.col("n_chars").isNotNull())
        .join(bands, F.col("lang") == F.col("__bl"))
        .filter(
            (F.col("n_chars") >= F.col("__lo"))
            & (F.col("n_chars") <= F.col("__hi"))
        )
        .select("doc_id", "lang", "n_chars")
    )


def _ppl_decile_oracle() -> str:
    from artigraph_spark.functions import oracle_davg

    toks = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')"
    nll = oracle_davg("round(ln(CAST(total AS DOUBLE) / CAST(c AS DOUBLE)), 9)")
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest({toks}) AS tok FROM documents
    ),
    freqs AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM freqs),
    scores AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               round({nll}, 6) AS nll
        FROM toks JOIN freqs USING (tok) CROSS JOIN tot
        GROUP BY doc_id
    ),
    dec AS (
        SELECT n_tokens, nll,
               CAST(ntile(10) OVER (ORDER BY nll, doc_id) AS BIGINT) AS decile
        FROM scores
    )
    SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round({oracle_davg("nll")}, 9) AS mean_nll_r
    FROM dec GROUP BY decile
    """


@query("ppl_decile_report", oracle=_ppl_decile_oracle())
def ppl_decile_report(spark, sf_dir):
    """Corpus health by perplexity-proxy decile: rank every document by
    its mean unigram NLL (the cheap stand-in for LM perplexity), cut the
    corpus into exact deciles, and report each decile's document count,
    TOKEN MASS, and mean NLL — the pre-training diagnostic that answers
    "how much of my token budget sits in the noisiest tenth?" before
    deciding a filter threshold. The decile assignment is the r9
    distributed machinery end-to-end: bucketed row_numbers (no global
    sort) + the integer ntile-from-rank projection, cross-validated here
    against DuckDB's native ntile."""
    from pyspark.sql import functions as F

    from artigraph_spark.functions import davg
    from artigraph_spark.operators._checkpoint import checkpoint
    from artigraph_spark.operators._ranks import (
        bucketed_row_numbers,
        ntile_from_rank,
    )
    from artigraph_spark.operators.text import unigram_logprob_scores
    from pyspark import StorageLevel

    d = load(spark, sf_dir, "documents")
    scores = (
        unigram_logprob_scores(d, "doc_id", "text")
        .select("doc_id", "n_tokens", F.round("nll", 6).alias("__nll"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        nd = scores.agg(F.count(F.lit(1)).alias("__nd"))
        ranked = bucketed_row_numbers(
            scores, "__nll", ["doc_id"], out_col="__rn"
        ).crossJoin(F.broadcast(nd))
        out = (
            ranked.select(
                ntile_from_rank("__rn", "__nd", 10).alias("decile"),
                "n_tokens",
                "__nll",
            )
            .groupBy("decile")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
                F.round(davg("__nll"), 9).alias("mean_nll_r"),
            )
        )
        return checkpoint(out)
    finally:
        scores.unpersist()


def _cohens_d_oracle() -> str:
    from artigraph_spark.functions import oracle_davg, oracle_dvar_samp

    va = "CASE WHEN l_returnflag = 'A' THEN l_extendedprice END"
    vb = "CASE WHEN l_returnflag = 'R' THEN l_extendedprice END"
    pooled = (
        "(((CAST(n_a AS DOUBLE) - 1.0) * va + (CAST(n_b AS DOUBLE) - 1.0) * vb)"
        " / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0))"
    )
    d = f"((mean_a_r - mean_b_r) / sqrt({pooled}))"
    gc = (
        f"({d} * (1.0 - 3.0 / (4.0 * (CAST(n_a AS DOUBLE)"
        f" + CAST(n_b AS DOUBLE)) - 9.0)))"
    )
    return f"""
    WITH s AS (
        SELECT CAST(COUNT({va}) AS BIGINT) AS n_a,
               CAST(COUNT({vb}) AS BIGINT) AS n_b,
               round({oracle_davg(va)}, 9) AS mean_a_r,
               round({oracle_davg(vb)}, 9) AS mean_b_r,
               round({oracle_dvar_samp(va)}, 9) AS va,
               round({oracle_dvar_samp(vb)}, 9) AS vb
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
          AND l_returnflag IN ('A', 'R')
    )
    SELECT n_a, n_b, mean_a_r, mean_b_r,
           CASE WHEN n_a > 1 AND n_b > 1 AND {pooled} > 0
                THEN round(sqrt({pooled}), 9) END AS pooled_sd_r,
           CASE WHEN n_a > 1 AND n_b > 1 AND {pooled} > 0
                THEN round({d}, 9) END AS cohens_d_r,
           CASE WHEN n_a > 1 AND n_b > 1 AND {pooled} > 0
                THEN round({gc}, 9) END AS hedges_g_r
    FROM s
    """


@query("effect_size_price", oracle=_cohens_d_oracle())
def effect_size_price(spark, sf_dir):
    """Cohen's d + Hedges' g for extended price between accepted ('A')
    and returned ('R') line items — the effect-size companion to
    welch_ttest_price: at production n everything is "significant", so
    the size of the standardized difference is the number that matters.
    See ``operators.quality.cohens_d``."""
    from artigraph_spark.operators.quality import cohens_d

    li = load(spark, sf_dir, "lineitem")
    return cohens_d(li, "l_returnflag", "l_extendedprice", "A", "R")


def _cuped_oracle() -> str:
    from artigraph_spark.functions import oracle_davg, oracle_dsum, oracle_dvar_samp

    nd = "CAST(count(*) AS DOUBLE)"
    sxy = oracle_dsum("(x) * (y)", 10)
    sx = oracle_dsum("x", 20)
    sy = oracle_dsum("y", 20)
    cov = (
        f"CASE WHEN count(*) > 1 THEN (({sxy}) - ({sx}) * ({sy}) / ({nd}))"
        f" / (({nd}) - 1.0) END"
    )
    return f"""
    WITH pu AS (
        SELECT user_id,
               CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                        AND value IS NOT NULL AND NOT isnan(value)
                        THEN CAST(floor(value * 1048576.0) AS BIGINT) END), 0)
                    AS BIGINT) AS xfx,
               CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                        AND value IS NOT NULL AND NOT isnan(value)
                        THEN CAST(floor(value * 1048576.0) AS BIGINT) END), 0)
                    AS BIGINT) AS yfx
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY user_id
    ), u AS (
        -- pmod form: (k % p + p) % p keeps a negative user_id's hash
        -- non-negative (DuckDB's % follows the dividend sign, Spark's
        -- side uses pmod) — same convention as the bootstrap oracle.
        SELECT CAST(((((user_id % 1000000007 + 1000000007) % 1000000007)
                      * 2654435761) % 1000000007) % 2
                    AS BIGINT) AS variant,
               CAST(xfx AS DOUBLE) / 1048576.0 AS x,
               CAST(yfx AS DOUBLE) / 1048576.0 AS y
        FROM pu
    ), g AS (
        SELECT round({oracle_davg("x")}, 9) AS gx,
               {cov} AS cov,
               {oracle_dvar_samp("x")} AS vx,
               {oracle_dvar_samp("y")} AS vy
        FROM u
    ), gt AS (
        SELECT gx,
               CASE WHEN vx > 0 THEN round(cov / vx, 9) ELSE 0.0 END AS theta,
               CASE WHEN vx > 0 AND vy > 0
                    THEN round(cov * cov / (vx * vy), 9) END AS rho2
        FROM g
    ), pv AS (
        SELECT variant, CAST(count(*) AS BIGINT) AS n,
               round({oracle_davg("y")}, 9) AS mean_y_r,
               round({oracle_davg("x")}, 9) AS mean_x_r
        FROM u GROUP BY variant
    )
    SELECT variant, n, mean_y_r, mean_x_r,
           round(mean_y_r - gt.theta * (mean_x_r - gt.gx), 9) AS adj_mean_r,
           gt.theta AS theta_r,
           gt.rho2 AS rho2_r
    FROM pv, gt
    """


@query("cuped_user_value", oracle=_cuped_oracle())
def cuped_user_value(spark, sf_dir):
    """CUPED variance-reduced A/B readout on the events fixture: each
    user's post-cutoff value total adjusted by their pre-cutoff total
    (the pre-experiment covariate), variants assigned by the shared
    deterministic multiplicative hash — the experimentation-platform
    standard that reaches significance with a fraction of the traffic.
    Per-user totals are exact fixed-point longs divided by 2^20 (a
    power-of-two division — exact in binary), so the whole pipeline
    replays bit-for-bit. See ``operators.quality.cuped_adjust``."""
    from artigraph_spark.functions import fxp
    from artigraph_spark.operators.packing import _mul_hash
    from artigraph_spark.operators.quality import cuped_adjust

    e = load(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    val_ok = F.col("value").isNotNull() & ~F.isnan(F.col("value"))
    pre = F.when((F.col("ts") < cut) & val_ok, F.col("value"))
    post = F.when((F.col("ts") >= cut) & val_ok, F.col("value"))
    scale = F.lit(float(1 << 20))
    units = (
        e.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            (
                F.coalesce(F.sum(fxp(pre)), F.lit(0).cast("long")).cast("double")
                / scale
            ).alias("x"),
            (
                F.coalesce(F.sum(fxp(post)), F.lit(0).cast("long")).cast("double")
                / scale
            ).alias("y"),
        )
        .withColumn(
            "variant", F.pmod(_mul_hash(F.col("user_id")), F.lit(2)).cast("bigint")
        )
    )
    return cuped_adjust(units, "variant", "y", "x")


def _mk_oracle() -> str:
    from artigraph_spark.functions import oracle_phi

    var_expr = (
        "(CAST(n_buckets * (n_buckets - 1) * (2 * n_buckets + 5) - tie"
        " AS DOUBLE) / 18.0)"
    )
    z_expr = (
        f"CASE WHEN {var_expr} > 0 THEN round("
        f"CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)"
        f" / sqrt({var_expr}) "
        f"WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)"
        f" / sqrt({var_expr}) "
        f"ELSE 0.0 END, 9) ELSE 0.0 END"
    )
    phi = oracle_phi("abs(z_r)")
    return f"""
    WITH pb AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 * 3600 AS b,
               CAST(count(*) AS BIGINT) AS y
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), sp AS (
        SELECT CAST(COALESCE(sum(CASE WHEN r.y > l.y THEN 1
                                      WHEN r.y < l.y THEN -1
                                      ELSE 0 END), 0) AS BIGINT) AS s_stat
        FROM pb l JOIN pb r ON l.b < r.b
    ), tg AS (
        SELECT CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                   AS tie,
               CAST(COALESCE(sum(t), 0) AS BIGINT) AS n_buckets
        FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM pb GROUP BY y)
    ), zc AS (
        SELECT n_buckets, s_stat,
               round({var_expr}, 9) AS var_s_r,
               {z_expr} AS z_r
        FROM sp, tg
    )
    SELECT n_buckets, s_stat, var_s_r, z_r,
           round(2.0 * (1.0 - {phi}), 9) AS p_r
    FROM zc
    """


@query("mann_kendall_hourly", oracle=_mk_oracle())
def mann_kendall_hourly(spark, sf_dir):
    """Mann–Kendall monotone-trend significance test over hourly event
    volume — the nonparametric companion to theil_sen_daily (that one
    estimates the slope, this one says whether the trend is real), with
    the tie-corrected normal approximation and a two-sided p-value
    through the engine-identical Φ polynomial. The pair sum runs over
    the BUCKET summary (N(N−1)/2 pairs of hours, the acf-family
    budget), never over raw events. See
    ``operators.timeseries.mann_kendall``."""
    from artigraph_spark.operators.timeseries import mann_kendall

    e = load(spark, sf_dir, "events")
    return mann_kendall(e, "ts", bucket_seconds=3600)
