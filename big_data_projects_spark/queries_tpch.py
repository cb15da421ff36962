"""TPC-H-shaped analytic queries over the driver testdata.

The reference exercises only inner equi-joins and count aggregates
(SURVEY.md §2.3-2.4); a complete engine must handle the classic
decision-support shapes: selective scan-aggregate (Q6), join + top-N
(Q3), EXISTS decorrelation (Q4), a 6-way snowflake join (Q5),
conditional-aggregate ratios (Q14), and HAVING-subquery semi-joins
(Q18). Each is adapted to the testdata columns (TESTDATA.md) and
hash-checked against DuckDB.

Scale notes (100 TB design):
- Broadcast hints only where boundedness is provable (nation/region,
  1-row scalars); SF-scaling relations (customer/part/supplier maps,
  post-HAVING key sets) are left to AQE, which broadcasts them when
  their runtime size fits and shuffle-joins otherwise.
- Double aggregates go through decimal accumulation (dsum/davg) so
  results are partition-order independent — required for both the
  oracle hash and AQE-repartitioned reruns.
- Top-N is orderBy+limit → Spark plans TakeOrderedAndProject
  (per-partition heaps + driver merge of N rows, never a global sort).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_projects_spark.data import load_table as _t
from big_data_projects_spark.functions.timestamps import epoch_ms
from big_data_projects_spark.operators.relational import davg, dsum
from big_data_projects_spark.registry import register


_REVENUE = "l_extendedprice * (1.0D - l_discount)"


@register(
    "q_tpch_q6",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 shape: selective filter + global aggregate. The whole
    query is one parquet scan — every predicate reaches PushedFilters
    and only 4 columns are read (see tests/test_plans.py)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum("l_extendedprice * l_discount", "revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q_tpch_q3",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                AS DOUBLE) AS revenue,
           epoch_ms(o_orderdate) AS order_date_ms,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape: filtered dim broadcast into a fact-fact join,
    grouped revenue, deterministic top-N (TakeOrderedAndProject)."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(
            orders, li.l_orderkey == orders.o_orderkey
        )
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(_REVENUE, "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            epoch_ms("o_orderdate").alias("order_date_ms"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join (the
    correlated predicate l_shipdate > o_orderdate rides along as a
    non-equi join condition on the semi join)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q_tpch_q5",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape: 6-way snowflake join (region→nation→supplier
    broadcast chain; customer⋈orders⋈lineitem shuffle on their keys),
    with the local-supplier constraint c_nationkey = s_nationkey."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")

    # Snowflake arm resolved driver-free: region⋈nation⋈supplier is tiny
    # → one broadcast of (s_suppkey, s_nationkey, n_name).
    asia_supp = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey,
                )
            ),
            supplier.s_nationkey == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            asia_supp,
            (li.l_suppkey == asia_supp.s_suppkey)
            & (customer.c_nationkey == asia_supp.s_nationkey),
        )
        .groupBy("n_name")
        .agg(dsum(_REVENUE, "revenue"))
    )


@register(
    "q_tpch_q14",
    oracle="""
    SELECT (100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'ECONOMY'
                     THEN l_extendedprice * (1 - l_discount)
                     ELSE 0 END AS DECIMAL(38,6))) AS DOUBLE))
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                  AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-07-01'
    """,
)
def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 shape: conditional-aggregate ratio over a broadcast
    part join (promo share of revenue; 'ECONOMY' plays PROMO%). Both
    sums accumulate in exact decimal; the ratio is computed in double
    with the identical (100·a)/b operation order on both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    dec = "decimal(38,6)"
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(dec)
    promo = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0).cast(dec))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                (F.lit(100.0) * F.sum(promo).cast("double"))
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q_tpch_q18",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, epoch_ms(o_orderdate) AS order_date_ms,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING SUM(l_quantity) > 220)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
    """,
)
def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape: HAVING subquery as a semi-join on the fact key,
    then re-join for the detail columns. The big-orders key set is the
    broadcast side (post-aggregation it is tiny)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("q"))
        .filter(F.col("q") > 220)
        .select("l_orderkey")
    )
    return (
        li.join(
            big.withColumnRenamed("l_orderkey", "big_key"),
            li.l_orderkey == F.col("big_key"),
            "inner",
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate")
        .agg(dsum("l_quantity", "total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            epoch_ms("o_orderdate").alias("order_date_ms"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(20)
    )
