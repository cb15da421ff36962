"""General OLAP surface beyond the reference's inventory.

The reference exercises no set ops, no outer/semi/anti joins, no
sum/avg aggregates, no cube/rollup, no pivot, no analytic windows
(SURVEY.md §2.4/2.6/2.7). A complete engine needs them; each is a thin
composition over Catalyst with a DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_projects_spark.data import load_table as _t
from big_data_projects_spark.operators.relational import dsum
from big_data_projects_spark.registry import register


# ---------------------------------------------------------------------------
# Join types the reference lacks
# ---------------------------------------------------------------------------

@register(
    "q_join_left_outer",
    oracle="""
    SELECT c_custkey, COALESCE(n, 0) AS n_orders FROM customer
    LEFT JOIN (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey) o
      ON c_custkey = o_custkey
    """,
)
def q_join_left_outer(spark, sf_dir):
    """Left outer join: customers with their order counts, 0 if none."""
    customer = _t(spark, sf_dir, "customer")
    per_cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        customer.join(per_cust, customer.c_custkey == per_cust.o_custkey, "left")
        .select("c_custkey", F.coalesce("n", F.lit(0)).alias("n_orders"))
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderstatus = 'F')
    """,
)
def q_join_semi(spark, sf_dir):
    """Left semi join (EXISTS): customers with a finished order."""
    customer = _t(spark, sf_dir, "customer")
    finished = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return customer.join(
        finished, customer.c_custkey == finished.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderstatus = 'P')
    """,
)
def q_join_anti(spark, sf_dir):
    """Left anti join (NOT EXISTS): customers with no pending order.
    (Unfiltered NOT EXISTS is vacuous on this data — every customer has
    some order; the status filter keeps the anti-join path non-empty.)"""
    customer = _t(spark, sf_dir, "customer")
    pending = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return customer.join(
        pending, customer.c_custkey == pending.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

@register(
    "q_set_ops",
    oracle="""
    WITH buyers AS (SELECT DISTINCT o_custkey AS k FROM orders
                    WHERE o_orderstatus = 'O'),
         finished AS (SELECT DISTINCT o_custkey AS k FROM orders
                      WHERE o_orderstatus = 'F')
    SELECT 'union' AS op, COUNT(*) AS n FROM (SELECT k FROM buyers UNION SELECT k FROM finished)
    UNION ALL
    SELECT 'intersect', COUNT(*) FROM (SELECT k FROM buyers INTERSECT SELECT k FROM finished)
    UNION ALL
    SELECT 'except', COUNT(*) FROM (SELECT k FROM buyers EXCEPT SELECT k FROM finished)
    """,
)
def q_set_ops(spark, sf_dir):
    """UNION / INTERSECT / EXCEPT over customer-key sets."""
    orders = _t(spark, sf_dir, "orders")
    buyers = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    finished = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    spark_ = orders.sparkSession

    def one(op: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(op).alias("op"), "n"
        )

    return (
        one("union", buyers.union(finished).distinct())
        .unionByName(one("intersect", buyers.intersect(finished)))
        .unionByName(one("except", buyers.exceptAll(finished).distinct()))
    )


# ---------------------------------------------------------------------------
# Multidimensional aggregation
# ---------------------------------------------------------------------------

@register(
    "q_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark, sf_dir):
    """ROLLUP hierarchy totals (per flag+status, per flag, grand)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


@register(
    "q_cube",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark, sf_dir):
    """CUBE: all grouping-set combinations."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
        )
    )


@register(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS DOUBLE) AS qty_O,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS DOUBLE) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot(spark, sf_dir):
    """Pivot linestatus into columns (fixed value list → no extra pass;
    at scale always pass explicit pivot values)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double"))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )


# ---------------------------------------------------------------------------
# Analytic windows / ordering / having / subqueries
# ---------------------------------------------------------------------------

@register(
    "q_window_analytics",
    oracle="""
    SELECT event_id, user_id,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (PARTITION BY user_id
                ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_analytics(spark, sf_dir):
    """rank/dense_rank/lag/lead + running decimal sum, all per-user
    partitioned windows (no global ordering anywhere)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.sum(F.col("value").cast("decimal(38,6)")).over(wr)
        .cast("double")
        .alias("running_value"),
    )


@register(
    "q_having_topn",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    ORDER BY total_spend DESC, o_custkey
    LIMIT 20
    """,
)
def q_having_topn(spark, sf_dir):
    """HAVING + deterministic ORDER BY ... LIMIT top-N (Spark plans
    TakeOrderedAndProject: per-partition heaps, no global sort)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_spend"),
        )
        .filter(F.col("n_orders") >= 12)
        .orderBy(F.col("total_spend").desc(), "o_custkey")
        .limit(20)
    )


@register(
    "q_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > 1.5 * (
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
        FROM orders)
    """,
)
def q_scalar_subquery(spark, sf_dir):
    """Scalar-subquery comparison against a global (decimal-exact)
    average — the boundary value is engine-identical so row membership
    matches. 1.5× threshold keeps a few thousand qualifying rows."""
    orders = _t(spark, sf_dir, "orders")
    avg_df = orders.agg(
        (F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double")
         / F.count(F.lit(1))).alias("avg_price")
    )
    return (
        orders.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > 1.5 * F.col("avg_price"))
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "q_case_when_bucketing",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS bucket,
           o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY 1, 2
    """,
)
def q_case_when_bucketing(spark, sf_dir):
    """CASE/WHEN bucketing + two-key aggregation."""
    orders = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return orders.groupBy(
        bucket.alias("bucket"), F.col("o_orderpriority")
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_distinct_agg",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_distinct_agg(spark, sf_dir):
    """Exact distinct-count per group (Catalyst expand + two-phase agg)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "q_approx_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           round(median(o_totalprice), 9) AS exact_median_price,
           TRUE AS distinct_within_5pct,
           TRUE AS median_in_band
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_approx_agg(spark, sf_dir):
    """Approximate sketch aggregates: HLL++ distinct + KLL-style
    quantiles — the 100 TB substitutes for exact distinct/median.
    Formerly rows-only (engine-specific estimates); upgraded to the
    sketch oracle pattern (queries_series.py): the query outputs the
    EXACT answers computed independently plus booleans pinning each
    deterministic sketch estimate inside its bound — HLL++ within ±5%
    of the exact distinct count, approx_percentile inside the exact
    [p40, p60] rank band — so a broken sketch or merge flips a hash-
    checked value."""
    orders = _t(spark, sf_dir, "orders")
    pct = lambda p: F.round(  # noqa: E731
        F.percentile("o_totalprice", F.lit(p)), 9
    )
    return orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("exact_customers"),
        pct(0.5).alias("exact_median_price"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", rsd=0.01)
                - F.count_distinct("o_custkey")
            )
            <= 0.05 * F.count_distinct("o_custkey")
        ).alias("distinct_within_5pct"),
        F.percentile_approx("o_totalprice", 0.5)
        .between(pct(0.40), pct(0.60))
        .alias("median_in_band"),
    )


@register(
    "q_median",
    oracle="""
    SELECT o_orderpriority,
           median(o_totalprice) AS median_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_median(spark, sf_dir):
    """Exact interpolated median per group."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.median("o_totalprice").alias("median_price")
    )


@register(
    "q_rolling_time_window",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
             AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling_time_window(spark, sf_dir):
    """Time-RANGE window frame: per-user rolling 1-hour event count and
    value sum. RANGE frames bound by *values* of the ordering key (all
    events within the trailing hour), unlike ROWS frames which bound by
    position — the standard shape for rate limiting / rolling metrics.
    Ordered on integer epoch MICROSECONDS on both engines: Spark's
    unix_timestamp() truncates sub-second components while DuckDB's
    epoch() keeps them, so a seconds-keyed frame silently disagreed at
    the hour boundary once the testdata carried fractional timestamps
    — unix_micros ↔ epoch_us are exact int64 on both sides. Events at
    identical timestamps are RANGE peers and aggregate together
    regardless of tie order, so no tiebreak column is needed for
    determinism."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1000000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .over(w)
        .cast("double")
        .alias("sum_1h"),
    )


@register(
    "q_quantiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.25), 9) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 9) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 9) AS p75,
           round(quantile_cont(o_totalprice, 0.95), 9) AS p95
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_quantiles(spark, sf_dir):
    """Exact interpolated quantiles (p25/p50/p75/p95) per group.
    Exact percentile sorts within each group — fine per-group, and the
    groups are bounded (priority classes); for an unbounded-cardinality
    column switch to approx_percentile (q_approx_agg). Interpolation
    formulas may differ by an ulp between engines ((1−f)·lo+f·hi vs
    lo+(hi−lo)·f), so both sides round to 9 decimals — absorbing ulp
    noise at these magnitudes while proving exact-sort agreement."""
    orders = _t(spark, sf_dir, "orders")
    pcts = [0.25, 0.50, 0.75, 0.95]
    return orders.groupBy("o_orderpriority").agg(
        *[
            F.round(F.percentile("o_totalprice", F.lit(p)), 9).alias(
                f"p{int(p * 100)}"
            )
            for p in pcts
        ]
    )


@register(
    "q_set_ops_all",
    oracle="""
    WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
         b AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F')
    SELECT 'union_all' AS op, COUNT(*) AS n
      FROM (SELECT k FROM a UNION ALL SELECT k FROM b)
    UNION ALL
    SELECT 'intersect_all', COUNT(*)
      FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    UNION ALL
    SELECT 'except_all', COUNT(*)
      FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    """,
)
def q_set_ops_all(spark, sf_dir):
    """Bag-semantics set operations (UNION ALL / INTERSECT ALL /
    EXCEPT ALL) — multiplicity-preserving, complementing q_set_ops'
    distinct forms. INTERSECT ALL keeps min(multiplicity), EXCEPT ALL
    subtracts multiplicities; Spark's intersectAll/exceptAll implement
    exactly these."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("k")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    )

    def one(op: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(op).alias("op"), "n"
        )

    return (
        one("union_all", a.union(b))
        .unionByName(one("intersect_all", a.intersectAll(b)))
        .unionByName(one("except_all", a.exceptAll(b)))
    )


@register(
    "q_window_firstlast",
    oracle="""
    SELECT event_id, user_id,
           first_value(value) OVER w AS first_v,
           last_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_v,
           nth_value(value, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS third_v
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_firstlast(spark, sf_dir):
    """first_value / last_value / nth_value navigation functions.
    last/nth use an explicit unbounded-both-sides frame: the default
    frame ends at CURRENT ROW, which silently turns last_value into
    'current value' — a classic window bug both engines share, pinned
    here with the correct frame."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_v"),
        F.last("value").over(wfull).alias("last_v"),
        F.nth_value("value", 3).over(wfull).alias("third_v"),
    )


@register(
    "q_gapfill_hourly",
    oracle="""
    WITH bounds AS (
        SELECT event_type,
               time_bucket(INTERVAL '1 hour', MIN(ts)) AS h_min,
               time_bucket(INTERVAL '1 hour', MAX(ts)) AS h_max
        FROM events GROUP BY event_type
    ),
    spine AS (
        SELECT event_type, unnest(generate_series(h_min, h_max,
                                                  INTERVAL '1 hour')) AS h
        FROM bounds
    ),
    actual AS (
        SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT s.event_type, epoch_ms(s.h) AS hour_ms,
           COALESCE(a.n, 0) AS n
    FROM spine s
    LEFT JOIN actual a ON s.event_type = a.event_type AND s.h = a.h
    """,
)
def q_gapfill_hourly(spark, sf_dir):
    """Gap-filling: a generated hourly spine per series (explode of
    sequence(min,max,1h)) left-joined with the actual counts, zeros for
    missing hours — the shape dashboards and rate monitors need. The
    spine generation is per-group and bounded by the group's own time
    range; no cross join against a global calendar."""
    ev = _t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    bounds = ev.groupBy("event_type").agg(
        F.min(hour).alias("h_min"), F.max(hour).alias("h_max")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("h_min", "h_max", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    actual = ev.groupBy(
        "event_type", hour.alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.join(actual, ["event_type", "h"], "left_outer")
        .select(
            "event_type",
            F.unix_millis(F.col("h").cast("timestamp")).alias("hour_ms"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )


@register(
    "q_pandas_udaf_trimmed",
    oracle="""
    WITH vals AS (
        SELECT event_type,
               CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL
    ), ranked AS (
        SELECT event_type, v,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM vals
    ), kept AS (
        SELECT event_type, v FROM ranked
        WHERE n <= 2 * (n // 10)
           OR (rn > n // 10 AND rn <= n - n // 10)
    )
    SELECT event_type,
           CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
               AS trimmed_mean_value
    FROM kept
    GROUP BY event_type
    """,
)
def q_pandas_udaf_trimmed(spark, sf_dir):
    """Custom UDAF via a grouped-agg pandas UDF (PySpark's UDAF path):
    10%-trimmed mean (k = n // 10 cut from each tail) of event value per
    type — a robust statistic with no built-in equivalent. Arrow ships
    each group's values as one numpy vector; the UDF sorts before
    reducing so the result is independent of shuffle arrival order.

    Determinism contract (what makes a Python float reduction
    hash-match SQL): values are quantized JVM-side to int64 micro-units
    with the IEEE-identical expression FLOOR(value*1e6 + 0.5), the UDAF
    reduces with an EXACT integer sum (order-free), and both engines
    finish with the same double division sequence sum/count/1e6. Sums
    stay far below 2**53 at test scale; a 100 TB run would widen the
    same shape to decimal(38,0) partial sums."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # Explicit GROUPED_AGG (this module's `from __future__ import
    # annotations` stringifies type hints, so hint-based inference
    # can't see the Series -> scalar signature).
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def trimmed_mean(v):
        arr = np.sort(v.to_numpy())
        n = len(arr)
        k = n // 10
        kept = arr[k : n - k] if n > 2 * k else arr
        total = int(kept.sum())  # exact: int64, no float accumulation
        return float(total) / float(len(kept)) / 1e6

    ev = _t(spark, sf_dir, "events")
    micro = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.expr("CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)").alias("v"),
    )
    return micro.groupBy("event_type").agg(
        trimmed_mean("v").alias("trimmed_mean_value")
    )


@register(
    "q_union_by_name",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        FROM orders WHERE o_orderstatus = 'F'
    ),
    v2 AS (
        SELECT o_orderkey, o_orderpriority, NULL AS o_totalprice
        FROM orders WHERE o_orderstatus = 'O'
    ),
    unioned AS (
        SELECT o_orderkey, o_totalprice, o_orderpriority FROM v1
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderpriority FROM v2
    )
    SELECT COUNT(*) AS n,
           COUNT(o_totalprice) AS with_price,
           COUNT(o_orderpriority) AS with_priority
    FROM unioned
    """,
)
def q_union_by_name(spark, sf_dir):
    """Schema-evolution union: two versions of a feed with different
    column sets combined by NAME (position-based union silently
    misaligns evolved schemas — the classic ingestion bug), missing
    columns null-filled. The count triple proves which side carried
    which column."""
    orders = _t(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderpriority"
    )
    unioned = v1.unionByName(v2, allowMissingColumns=True)
    return unioned.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_totalprice").alias("with_price"),
        F.count("o_orderpriority").alias("with_priority"),
    )


@register(
    "q_nullsafe_join",
    oracle="""
    WITH a AS (
        SELECT event_id,
               CASE WHEN value < 0.1 THEN NULL
                    ELSE CAST(floor(value * 10) AS BIGINT) END AS bucket
        FROM events
    ),
    b AS (
        SELECT DISTINCT CASE WHEN value < 0.1 THEN NULL
                    ELSE CAST(floor(value * 10) AS BIGINT) END AS bucket2
        FROM events
    )
    SELECT COUNT(*) AS n_pairs,
           COUNT(CASE WHEN bucket IS NULL THEN 1 END) AS null_pairs
    FROM a JOIN b ON bucket IS NOT DISTINCT FROM bucket2
    """,
)
def q_nullsafe_join(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): ordinary
    equi-joins drop null keys silently; null-safe joins pair them —
    the semantics data-repair and SCD merge logic depend on. The null
    bucket must survive the join (null_pairs > 0 proves it)."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.when(F.col("value") < 0.1, F.lit(None)).otherwise(
        F.floor(F.col("value") * 10).cast("long")
    )
    a = ev.select("event_id", bucket.alias("bucket"))
    b = ev.select(bucket.alias("bucket2")).distinct()
    return a.join(b, a.bucket.eqNullSafe(b.bucket2)).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count(F.when(F.col("bucket").isNull(), 1)).alias("null_pairs"),
    )


@register(
    "q_scd2_intervals",
    oracle="""
    SELECT user_id, event_type AS attr_value,
           epoch_ms(ts) AS valid_from_ms,
           epoch_ms(lead(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id)) AS valid_to_ms
    FROM events
    """,
)
def q_scd2_intervals(spark, sf_dir):
    """Slowly-changing-dimension type-2 construction: each attribute
    observation becomes a [valid_from, valid_to) interval, valid_to =
    the next observation's timestamp via lead() (null = current row).
    The as-of join (q_asof_join) is the read-side twin of this
    write-side shape. Partitioned window only — no global sort."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.col("event_type").alias("attr_value"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("valid_from_ms"),
        F.unix_millis(F.lead("ts").over(w).cast("timestamp")).alias(
            "valid_to_ms"
        ),
    )


@register(
    "q_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / CAST(50000 AS DOUBLE)) AS BIGINT)
             AS bucket,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def q_histogram(spark, sf_dir):
    """Fixed-width histogram with an explicit bucket formula (floor of
    v / width). Literal bounds — a data-derived min/max would need an
    extra pass — and an explicit formula rather than width_bucket,
    whose edge rounding differs between engines. One shuffle on the
    bucket id."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(
        F.floor(F.col("o_totalprice") / F.lit(50000.0))
        .cast("long")
        .alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_string_agg",
    oracle="""
    SELECT c_mktsegment,
           string_agg(DISTINCT c_name, ',' ORDER BY c_name) AS names
    FROM (SELECT c_mktsegment, c_name FROM customer
          WHERE c_custkey % 100 = 0) t
    GROUP BY c_mktsegment
    """,
)
def q_string_agg(spark, sf_dir):
    """Ordered string aggregation (listagg): collect_list is
    arrival-order nondeterministic, so the list is sorted before
    joining — the only deterministic form of string_agg, matching the
    oracle's ORDER BY clause. At scale the per-group payload must be
    bounded (here: 1% of customers) — an unbounded listagg is an OOM,
    not an operator."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 100 == 0
    )
    return cust.groupBy("c_mktsegment").agg(
        F.array_join(
            F.array_sort(F.collect_set("c_name")), ","
        ).alias("names")
    )


@register(
    "q_grouping_id",
    oracle="""
    SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN NULL
                ELSE l_returnflag END AS returnflag,
           CASE WHEN GROUPING(l_linestatus) = 1 THEN NULL
                ELSE l_linestatus END AS linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_grouping_id(spark, sf_dir):
    """grouping() markers on ROLLUP subtotals: the only correct way to
    distinguish a subtotal row from a genuine NULL in the data (the
    COALESCE('ALL') idiom in q_rollup conflates them)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.when(F.col("g_flag") == 1, F.lit(None))
            .otherwise(F.col("l_returnflag"))
            .alias("returnflag"),
            F.when(F.col("g_status") == 1, F.lit(None))
            .otherwise(F.col("l_linestatus"))
            .alias("linestatus"),
            "g_flag",
            "g_status",
            "n",
        )
    )


@register(
    "q_bitwise_agg",
    oracle="""
    SELECT user_id,
           bit_and(event_id) AS all_bits,
           bit_or(event_id) AS any_bits,
           bit_xor(event_id) AS parity_bits
    FROM events GROUP BY user_id
    """,
)
def q_bitwise_agg(spark, sf_dir):
    """Bitwise aggregates (and/or/xor over int64) — flag-set fusion and
    parity checks; associative+commutative, so partial aggregation works
    and results are order-independent by construction."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.bit_and("event_id").alias("all_bits"),
        F.bit_or("event_id").alias("any_bits"),
        F.bit_xor("event_id").alias("parity_bits"),
    )


@register(
    "q_merge_upsert",
    oracle="""
    WITH source AS (
        SELECT user_id AS k,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS new_bal
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    merged AS (
        SELECT COALESCE(c_custkey, k) AS c_custkey,
               CASE WHEN k IS NOT NULL THEN new_bal ELSE c_acctbal END
                 AS c_acctbal,
               CASE WHEN c_custkey IS NULL THEN 'inserted'
                    WHEN k IS NULL THEN 'untouched'
                    ELSE 'updated' END AS row_fate
        FROM customer FULL OUTER JOIN source ON c_custkey = k
    )
    SELECT row_fate, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
             AS total_bal
    FROM merged GROUP BY row_fate
    """,
)
def q_merge_upsert(spark, sf_dir):
    """MERGE INTO (upsert) without a table format: purchase totals per
    user merged into the customer snapshot — matched customers get the
    new balance, unmatched keep theirs, unknown users insert. The fate
    accounting proves each WHEN branch fired; the balance sum proves
    values landed in the right rows."""
    from big_data_projects_spark.operators.relational import merge_upsert

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    source = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("c_custkey"))
        .agg(dsum("value", "c_acctbal"))
    )
    known = cust.select(F.col("c_custkey").alias("known_k"))
    merged = merge_upsert(cust, source, key="c_custkey")
    src_keys = source.select(F.col("c_custkey").alias("src_k"))
    fate = (
        merged.join(
            F.broadcast(src_keys), merged.c_custkey == src_keys.src_k, "left"
        )
        .join(F.broadcast(known), merged.c_custkey == known.known_k, "left")
        .select(
            "c_acctbal",
            F.when(F.col("known_k").isNull(), "inserted")
            .when(F.col("src_k").isNull(), "untouched")
            .otherwise("updated")
            .alias("row_fate"),
        )
    )
    return fate.groupBy("row_fate").agg(
        F.count(F.lit(1)).alias("n"), dsum("c_acctbal", "total_bal")
    )


@register(
    "q_incremental_rollup",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           MAX(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def q_incremental_rollup(spark, sf_dir):
    """Incremental aggregation algebra: the stream of data arrives in
    batches (here: two halves split by event id), each batch aggregates
    independently, and the stored partials MERGE — count adds, decimal
    sums add exactly, max takes max — to the identical result as a
    direct global aggregate (the oracle). This mergeability is why
    daily rollups never reprocess history; non-decomposable aggregates
    (exact median) can't do this and need the full input."""
    ev = _t(spark, sf_dir, "events")
    dec = "decimal(38,6)"

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(dec)).alias("sum_dec"),
            F.max("value").alias("max_value"),
        )

    batch1 = partial(ev.filter(F.col("event_id") % 2 == 0))
    batch2 = partial(ev.filter(F.col("event_id") % 2 == 1))
    return (
        batch1.unionByName(batch2)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_dec").cast("double").alias("total_value"),
            F.max("max_value").alias("max_value"),
        )
    )


@register(
    "q_order_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q_order_limit(spark, sf_dir):
    """Global top-k (ORDER BY ... LIMIT). Physically this must compile
    to TakeOrderedAndProject — per-partition heap top-k then a driver
    merge of k·P rows — never a full global sort: at 100 TB a total
    sort shuffles the whole table to rank 100 rows. The unique
    o_orderkey tie-break makes the selected SET deterministic, which
    is what the order-insensitive oracle hash checks."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "q_window_ignore_nulls",
    oracle="""
    WITH g AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'click' THEN NULL ELSE value END AS gapped
        FROM events
    )
    SELECT event_id, user_id, gapped,
           LAST_VALUE(gapped IGNORE NULLS) OVER w AS filled,
           LAG(gapped IGNORE NULLS) OVER w2 AS prev_obs
    FROM g
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_ignore_nulls(spark, sf_dir):
    """IGNORE NULLS window navigation — the forward-fill (LOCF)
    pattern for gappy time-series: nulls are synthesized determinist-
    ically (click events), then last_value(... IGNORE NULLS) over an
    unbounded-preceding ROWS frame carries the prior observation
    forward, and lag(... IGNORE NULLS) fetches the previous non-null
    reading. Total order inside each user partition (ts, event_id)
    makes the fill deterministic. Scales as one hash-partition
    shuffle on user_id — no global sort."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = F.when(F.col("event_type") == "click", None).otherwise(F.col("value"))
    return (
        ev.select("event_id", "user_id", "ts", gapped.alias("gapped"))
        .select(
            "event_id",
            "user_id",
            "gapped",
            F.last("gapped", ignorenulls=True).over(w).alias("filled"),
            F.expr("lag(gapped) ignore nulls").over(w2).alias("prev_obs"),
        )
    )


@register(
    "q_snapshot_diff",
    oracle="""
    WITH old AS (
        SELECT event_id, value FROM events WHERE event_id % 11 != 0
    ),
    new AS (
        SELECT event_id,
               value + CASE WHEN event_id % 3 = 0 THEN 1.0 ELSE 0.0 END AS value
        FROM events WHERE event_id % 13 != 0
    )
    SELECT CASE WHEN o.event_id IS NULL THEN 'added'
                WHEN n.event_id IS NULL THEN 'removed'
                WHEN o.value != n.value THEN 'changed'
                ELSE 'unchanged' END AS status,
           COUNT(*) AS n
    FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
    GROUP BY 1
    """,
)
def q_snapshot_diff(spark, sf_dir):
    """Change-data detection between two table snapshots (no CDC log
    available): full outer join on the key, classify each row as
    added / removed / changed / unchanged. The snapshots are carved
    deterministically from events (different modulus filters; 'new'
    perturbs every third value). At scale both sides shuffle once on
    the same key — with bucketed snapshots the join is co-located and
    shuffle-free (see q_bucketed_join)."""
    ev = _t(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 11 != 0).select("event_id", "value")
    new = ev.filter(F.col("event_id") % 13 != 0).select(
        "event_id",
        (
            F.col("value")
            + F.when(F.col("event_id") % 3 == 0, 1.0).otherwise(0.0)
        ).alias("value"),
    )
    o = old.alias("o")
    n = new.alias("n")
    joined = o.join(n, F.col("o.event_id") == F.col("n.event_id"), "full_outer")
    status = (
        F.when(F.col("o.event_id").isNull(), "added")
        .when(F.col("n.event_id").isNull(), "removed")
        .when(F.col("o.value") != F.col("n.value"), "changed")
        .otherwise("unchanged")
    )
    return joined.select(status.alias("status")).groupBy("status").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "q_user_gap_features",
    oracle="""
    WITH o AS (
        SELECT user_id, epoch_us(ts) AS us,
               LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(us - prev) AS BIGINT) AS max_gap_us,
           CASE WHEN COUNT(prev) > 0
                THEN CAST(SUM(us - prev) AS BIGINT) / CAST(COUNT(prev) AS BIGINT)
                END AS mean_gap_us
    FROM o GROUP BY user_id
    """,
)
def q_user_gap_features(spark, sf_dir):
    """Grouped-map Python stage (applyInPandas): per-user inter-arrival
    features — event count, max gap, mean gap. The API surface this
    exercises is the sanctioned custom-operator escape hatch: arbitrary
    per-group Python over Arrow batches, for logic built-ins can't
    express (here they could — the oracle proves it — which is exactly
    what makes the result checkable).

    Scale discipline for grouped maps: the whole group materializes in
    one Python worker, so only group on bounded-size keys (a user's
    events, not a source's documents). Timestamps cross into Python as
    unix_micros int64 — no tz/DST semantics can leak into the gaps."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events")
    narrow = ev.select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )

    def features(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["us", "event_id"])
        gaps = pdf["us"].diff().dropna()
        if len(gaps):
            max_gap = int(gaps.max())
            mean_gap = float(int(gaps.sum())) / len(gaps)
        else:
            max_gap, mean_gap = None, None
        return pd.DataFrame(
            [[int(pdf["user_id"].iloc[0]), len(pdf), max_gap, mean_gap]],
            columns=["user_id", "n_events", "max_gap_us", "mean_gap_us"],
        )

    return narrow.groupBy("user_id").applyInPandas(
        features,
        "user_id long, n_events long, max_gap_us long, mean_gap_us double",
    )


@register(
    "q_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT 'view' AS stage, COUNT(*) AS n_users FROM s1
    UNION ALL SELECT 'click', COUNT(*) FROM s2
    UNION ALL SELECT 'purchase', COUNT(*) FROM s3
    """,
)
def q_funnel(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase): a user
    counts at stage k only if stage k's first qualifying event is
    strictly after their stage-(k-1) entry time. Each stage is one
    filtered aggregate joined to the previous stage's entry times —
    the per-stage relations shrink monotonically, so every join after
    stage 1 has a small build side (AQE broadcasts it)."""
    ev = _t(spark, sf_dir, "events")

    def stage(event_type, prev, tcol, prev_tcol):
        e = ev.filter(F.col("event_type") == event_type)
        if prev is None:
            return e.groupBy("user_id").agg(F.min("ts").alias(tcol))
        return (
            e.join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_tcol))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )

    s1 = stage("view", None, "t1", None)
    s2 = stage("click", s1, "t2", "t1")
    s3 = stage("purchase", s2, "t3", "t2")

    def count_of(df, label):
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(label).alias("stage"), "n_users"
        )

    return (
        count_of(s1, "view")
        .unionByName(count_of(s2, "click"))
        .unionByName(count_of(s3, "purchase"))
    )


@register(
    "q_retention_cohorts",
    oracle="""
    WITH cohort AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
    )
    SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', c.cohort_week, a.week) // 7 AS BIGINT)
               AS week_offset,
           COUNT(*) AS n_active_users
    FROM cohort c JOIN active a ON c.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def q_retention_cohorts(spark, sf_dir):
    """Cohort retention: users are grouped by the week of their first
    event; n_active_users counts cohort members active k weeks later.
    Two bounded aggregations (per-user first week; distinct user-weeks)
    joined on user_id — both collapse data-scale rows to |users|-scale
    before the join. Week truncation is Monday-based ISO on both
    engines; outputs are DATE-typed so no tz leaks in."""
    ev = _t(spark, sf_dir, "events")
    cohort = ev.groupBy("user_id").agg(
        F.date_format(F.date_trunc("week", F.min("ts")), "yyyy-MM-dd").alias(
            "cohort_week"
        )
    )
    active = ev.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("week")
    ).distinct()
    return (
        cohort.join(active, "user_id")
        .select(
            "cohort_week",
            F.expr("datediff(week, cohort_week) div 7").cast("long").alias(
                "week_offset"
            ),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@register(
    "q_running_count_distinct",
    oracle="""
    SELECT event_id, event_type,
           COUNT(DISTINCT user_id) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS n_distinct_users
    FROM events
    """,
)
def q_running_count_distinct(spark, sf_dir):
    """Running COUNT(DISTINCT) over a window — an operator Spark's
    window functions lack (no DISTINCT in windowed aggregates), re-
    expressed as a composition: flag each (event_type, user)'s first
    occurrence with row_number, then a running sum of flags. Both
    windows partition on bounded keys; no buffered distinct set is
    ever materialized per row, which is also why this scales where a
    naive per-row HashSet (the single-node implementation) would not."""
    ev = _t(spark, sf_dir, "events")
    w_first = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "event_id",
        "event_type",
        "ts",
        "user_id",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("first"),
    )
    return flagged.select(
        "event_id",
        "event_type",
        F.sum("first").over(w_run).alias("n_distinct_users"),
    )


@register(
    "q_null_ordering",
    oracle="""
    SELECT event_id,
           CASE WHEN event_type = 'click' THEN NULL ELSE value END AS gapped
    FROM events
    ORDER BY gapped ASC NULLS FIRST, event_id
    LIMIT 50
    """,
)
def q_null_ordering(spark, sf_dir):
    """Explicit NULL placement in ordered top-k. Engines disagree on
    defaults (Spark: NULLS FIRST for ASC; DuckDB: NULLS LAST), so any
    cross-engine ORDER BY...LIMIT over a nullable key MUST spell the
    placement out — here NULLS FIRST makes the top-50 the 50 lowest-id
    null rows, which only matches because both engines agree on the
    explicit clause and the unique tie-break. Still planned as
    TakeOrderedAndProject."""
    ev = _t(spark, sf_dir, "events")
    gapped = F.when(F.col("event_type") == "click", None).otherwise(
        F.col("value")
    )
    return (
        ev.select("event_id", gapped.alias("gapped"))
        .orderBy(F.col("gapped").asc_nulls_first(), F.col("event_id").asc())
        .limit(50)
    )


@register(
    "q_interval_overlap",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        -- event_id tiebreak keeps sid deterministic (and aligned with
        -- the Spark sessionize side) under duplicate (user_id, ts).
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ),
    iv AS (
        SELECT user_id, CAST(sid AS BIGINT) AS session_id,
               MIN(ts) AS s_start, MAX(ts) AS s_end
        FROM sess GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(ts) AS t0, MAX(ts) AS t1 FROM events),
    win AS (
        SELECT CAST(epoch(w_start) / 14400 AS BIGINT) AS window_id,
               w_start, w_start + INTERVAL '6 hours' AS w_end
        FROM (SELECT unnest(generate_series(
                  time_bucket(INTERVAL '4 hours', t0), t1,
                  INTERVAL '4 hours')) AS w_start
              FROM bounds)
    )
    SELECT iv.user_id, iv.session_id, w.window_id
    FROM iv JOIN win w ON iv.s_start <= w.w_end AND w.w_start <= iv.s_end
    """,
)
def q_interval_overlap(spark, sf_dir):
    """Interval overlap join: per-user session intervals (gap-based
    sessionize → min/max ts) against 6-hour maintenance windows that
    slide every 4 hours — which sessions were live in which windows.
    The overlap predicate is non-equi, so the operator bucket-blocks
    both sides (operators/intervals.py): explode to 4h blocks,
    equi-join on block id, verify overlap within the block, and emit
    each pair exactly once via the first-shared-block rule — never a
    nested-loop or cartesian plan, and no dedup shuffle."""
    from big_data_projects_spark.operators.intervals import interval_overlap_join
    from big_data_projects_spark.operators.sessionize import sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_seconds=1800, tiebreak_col="event_id")
    iv = s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"), F.max("ts").alias("t1")
    )
    # 4h-aligned sliding spine: 6h windows every 4h; id = epoch div 4h.
    win = bounds.select(
        F.explode(
            F.sequence(
                F.to_timestamp(
                    F.from_unixtime(
                        F.floor(F.unix_timestamp("t0") / 14400) * 14400
                    )
                ),
                "t1",
                F.expr("INTERVAL 4 HOURS"),
            )
        ).alias("w_start")
    ).select(
        F.floor(F.unix_timestamp("w_start") / 14400).cast("long").alias("window_id"),
        "w_start",
        (F.col("w_start") + F.expr("INTERVAL 6 HOURS")).alias("w_end"),
    )
    joined = interval_overlap_join(
        iv, win, "s_start", "s_end", "w_start", "w_end", block_seconds=14400
    )
    return joined.select("user_id", "session_id", "window_id")


@register(
    "q_sample_per_group",
    oracle="""
    WITH r AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 50
    """,
)
def q_sample_per_group(spark, sf_dir):
    """Exact-k deterministic sample per stratum: md5-keyed pseudo-random
    order, rank window partitioned by the stratum, keep the first 50 —
    the fixed-budget companion to q_stratified_sample's rate-based
    sampling (training mixes often need exactly k docs per source).
    Deterministic under retries (hash order, never rand()); the rank
    window partitions by source, so no global sort."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "source", "doc_id", F.row_number().over(w).cast("long").alias("rk")
        )
        .filter(F.col("rk") <= 50)
    )


@register(
    "q_skew_stats",
    oracle="""
    WITH c AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    ),
    tot AS (
        SELECT CAST(SUM(n_events) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_keys
        FROM c
    )
    SELECT c.user_id, c.n_events,
           c.n_events / CAST(t.total AS DOUBLE) AS share,
           c.n_events / (t.total / CAST(t.n_keys AS DOUBLE)) AS skew_x
    FROM c, tot t
    ORDER BY c.n_events DESC, c.user_id
    LIMIT 10
    """,
)
def q_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis — the operator you run BEFORE picking a join/agg
    strategy at 100 TB: per-key cardinality profile with each hot key's
    share of all rows and its multiple of the mean key load (the
    number that says 'salt this key' or 'AQE will split this'). One
    hash aggregation; the global top-10 is orderBy+limit
    (TakeOrderedAndProject: per-partition heaps, never a full sort);
    the corpus totals ride in as a broadcast 1-row scalar."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    tot = c.agg(
        F.sum("n_events").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    scored = c.crossJoin(F.broadcast(tot)).select(
        "user_id",
        "n_events",
        (F.col("n_events") / F.col("total")).alias("share"),
        (F.col("n_events") / (F.col("total") / F.col("n_keys"))).alias("skew_x"),
    )
    return scored.orderBy(F.desc("n_events"), "user_id").limit(10)


@register(
    "q_cogroup_stats",
    oracle="""
    WITH e AS (
        SELECT user_id AS uid, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    ),
    o AS (
        SELECT o_custkey AS uid, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_custkey
    )
    SELECT COALESCE(e.uid, o.uid) AS uid,
           COALESCE(e.n_events, 0) AS n_events,
           COALESCE(o.n_orders, 0) AS n_orders,
           e.uid IS NOT NULL AND o.uid IS NOT NULL AS in_both
    FROM e FULL OUTER JOIN o ON e.uid = o.uid
    """,
)
def q_cogroup_stats(spark, sf_dir):
    """Cogrouped Python stage (groupBy().cogroup().applyInPandas): the
    two-table grouped-map API — both sides of a key arrive as aligned
    Arrow batches in one Python function, the shape joins can't give
    you when per-key logic needs BOTH groups at once (feature joins,
    per-entity reconciliation). Here each key merges its event and
    order groups into counts; the oracle restates it as a full outer
    join of two aggregates, which is exactly what makes the Python
    path checkable. Same scale discipline as any grouped map: a key's
    two groups materialize in one worker, so key cardinality bounds
    memory, never corpus size."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events").select(F.col("user_id").alias("uid"))
    od = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("uid"))

    def merge(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "uid": [int(key[0])],
                "n_events": [len(left)],
                "n_orders": [len(right)],
                "in_both": [len(left) > 0 and len(right) > 0],
            }
        )

    return (
        ev.groupBy("uid")
        .cogroup(od.groupBy("uid"))
        .applyInPandas(
            merge, schema="uid long, n_events long, n_orders long, in_both boolean"
        )
    )


@register(
    "q_asof_forward",
    oracle="""
    SELECT e.event_id, e.user_id,
           CASE WHEN o.o_orderdate <= e.ts + INTERVAL 30 DAY
                THEN epoch_ms(o.o_orderdate) END AS next_order_ms
    FROM events e
    ASOF LEFT JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    """,
)
def q_asof_forward(spark, sf_dir):
    """Forward as-of join with a tolerance (pandas merge_asof parity):
    each event matched to the user's NEXT order at-or-after the event,
    but only within 30 days — matches beyond the tolerance are nulled.
    Same single-shuffle union-of-tagged-streams plan as the backward
    operator, traversed in reverse time order; DuckDB's native
    ASOF LEFT JOIN with the tolerance as a CASE is the oracle."""
    from big_data_projects_spark.operators.asof import asof_join
    from big_data_projects_spark.functions.timestamps import epoch_ms

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    od = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    joined = asof_join(
        ev, od, left_on="user_id", right_on="o_custkey",
        left_time="ts", right_time="o_orderdate",
        how="left", direction="forward", tolerance_seconds=30 * 86400,
    )
    return joined.select(
        "event_id", "user_id",
        epoch_ms("asof_o_orderdate").alias("next_order_ms"),
    )


@register(
    "q_asof_nearest",
    oracle="""
    WITH b AS (
        SELECT e.event_id, e.user_id, e.ts, o.o_orderdate AS brt
        FROM events e
        ASOF LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    ),
    f AS (
        SELECT e.event_id, o.o_orderdate AS frt
        FROM events e
        ASOF LEFT JOIN orders o
          ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    )
    SELECT b.event_id, b.user_id,
           epoch_ms(CASE WHEN brt IS NOT NULL
                          AND (frt IS NULL OR (b.ts - brt) <= (frt - b.ts))
                    THEN brt ELSE frt END) AS nearest_order_ms
    FROM b JOIN f USING (event_id)
    """,
)
def q_asof_nearest(spark, sf_dir):
    """Nearest-direction as-of join (the last merge_asof direction):
    each event matched to the user's CLOSEST order in either time
    direction, exact ties resolved backward — pandas semantics. The
    plan shuffles the union of tagged streams ONCE on the key and runs
    both directional carry windows as two sorts of the same exchange;
    the oracle composes DuckDB's two native ASOF joins and restates
    the tie rule as interval comparison."""
    from big_data_projects_spark.operators.asof import asof_join
    from big_data_projects_spark.functions.timestamps import epoch_ms

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    od = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    joined = asof_join(
        ev, od, left_on="user_id", right_on="o_custkey",
        left_time="ts", right_time="o_orderdate",
        how="left", direction="nearest",
    )
    return joined.select(
        "event_id", "user_id",
        epoch_ms("asof_o_orderdate").alias("nearest_order_ms"),
    )
