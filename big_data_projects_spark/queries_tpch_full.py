"""The remaining TPC-H query shapes (Q2,Q7-Q13,Q15-Q17,Q19-Q22).

queries_tpch.py covers Q1/Q3/Q4/Q5/Q6/Q14/Q18; this module completes
the full 22-query decision-support surface, adapted to the driver
testdata's reduced TPC-H schema (TESTDATA.md: no partsupp table, no
l_commitdate/l_receiptdate/l_shipmode, no c_phone/o_comment). Where the
official query needs a missing column, the adaptation keeps the *query
shape* — the operator composition Catalyst must plan — and substitutes
the nearest available column (noted per query).

The reference exercises none of these shapes (SURVEY.md §2.3-2.4: only
inner equi-joins + count aggregates); they are part of the "complete
engine" surface, each hash-checked against DuckDB.

Scale notes (100 TB design, applied throughout):
- Broadcast HINTS only on provably bounded relations: nation/region
  (constant cardinality) and 1-row scalar aggregates. Everything that
  scales with SF — customer/supplier/part-derived maps, post-HAVING key
  sets — carries no hint: AQE broadcasts them at runtime when the
  actual size permits and shuffle-joins when it doesn't, which is the
  only policy that is correct at every scale.
- Double SUM/AVG goes through exact DECIMAL(38,6) accumulation
  (operators.relational.dsum/davg) so results are partition-order
  independent; correlated thresholds (Q11/Q17) compare doubles computed
  by the identical expression on both engines.
- Top-N = orderBy+limit → TakeOrderedAndProject (per-partition heaps,
  no global sort). Un-limited aggregates skip ORDER BY entirely — the
  driver hash is order-insensitive, so a final sort is wasted shuffle.
- EXISTS / NOT EXISTS / IN / NOT IN decorrelate to left-semi /
  left-anti joins with the correlated predicate as a residual join
  condition (Q21, Q22, Q16, Q20).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_projects_spark.data import load_table as _t
from big_data_projects_spark.operators.relational import davg, dsum
from big_data_projects_spark.registry import register

_DEC = "decimal(38,6)"


_REVENUE = "l_extendedprice * (1.0D - l_discount)"


def _ts(s: str):
    return F.lit(s).cast("timestamp")


@register(
    "q_tpch_q2",
    oracle="""
    WITH costs AS (
      SELECT l_partkey AS pk, l_suppkey AS sk, MIN(l_extendedprice) AS cost
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
      GROUP BY 1, 2
    )
    SELECT p_partkey, p_name, s_name, n_name, cost
    FROM costs
    JOIN (SELECT pk AS pk2, MIN(cost) AS mc FROM costs GROUP BY 1) m
      ON pk = pk2 AND cost = mc
    JOIN part     ON p_partkey = pk
    JOIN supplier ON s_suppkey = sk
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_size <= 15 AND p_type = 'STANDARD'
    ORDER BY cost, p_partkey, s_name
    LIMIT 100
    """,
)
def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape: min-cost supplier per part via a correlated MIN
    subquery, decorrelated to agg + self-equality-join. Adaptation: no
    partsupp table, so supply cost := MIN(l_extendedprice) observed per
    (part, supplier) in lineitem, restricted to EUROPE suppliers.

    MIN over doubles is order-independent, so the cost = min_cost
    equality join is exact on both engines."""
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    )

    euro_supp = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey,
                )
            ),
            supplier.s_nationkey == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    costs = (
        li.join(euro_supp, li.l_suppkey == euro_supp.s_suppkey)
        .groupBy("l_partkey", "l_suppkey", "s_name", "n_name")
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    mins = costs.groupBy(F.col("l_partkey").alias("pk2")).agg(
        F.min("cost").alias("mc")
    )
    return (
        costs.join(
            mins,
            (costs.l_partkey == mins.pk2) & (costs.cost == mins.mc),
        )
        .join(part, costs.l_partkey == part.p_partkey)
        .select("p_partkey", "p_name", "s_name", "n_name", "cost")
        .orderBy("cost", "p_partkey", "s_name")
        .limit(100)
    )


@register(
    "q_tpch_q7",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier  ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN orders    ON o_orderkey = l_orderkey
    JOIN customer  ON c_custkey = o_custkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 shape: volume shipping between two nations — the same
    dimension table (nation) joined twice under different roles, with a
    disjunctive cross-role predicate that can only be applied after both
    arms are bound. supplier- and customer-side maps are broadcast; the
    lineitem⋈orders fact join is the only shuffle."""
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp_map = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_map = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp_map, li.l_suppkey == supp_map.s_suppkey)
        .join(cust_map, orders.o_custkey == cust_map.c_custkey)
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dsum(_REVENUE, "revenue"))
    )


@register(
    "q_tpch_q8",
    oracle="""
    SELECT year(o_orderdate) AS o_year,
           CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                    ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                  AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN part      ON p_partkey = l_partkey
    JOIN orders    ON o_orderkey = l_orderkey
    JOIN customer  ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = c_nationkey
    JOIN region    ON r_regionkey = n1.n_regionkey
    JOIN supplier  ON s_suppkey = l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s_nationkey
    WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 shape: national market share — an 8-way join where one
    nation role scopes the market (customer region) and the other feeds
    a conditional aggregate (supplier nation share of revenue). Both
    decimal sums are exact; the final ratio divides two doubles computed
    identically on both engines."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_cust = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region), nation.n_regionkey == region.r_regionkey
                ).select(F.col("n_nationkey").alias("cnk"))
            ),
            F.col("c_nationkey") == F.col("cnk"),
        )
        .select("c_custkey")
    )
    supp_map = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")

    rev = F.expr(f"CAST({_REVENUE} AS {_DEC})")
    nation_rev = F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
        F.lit(0).cast(_DEC)
    )
    return (
        li.join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(asia_cust, orders.o_custkey == F.col("c_custkey"))
        .join(supp_map, li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(nation_rev).cast("double") / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
    )


@register(
    "q_tpch_q9",
    oracle="""
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         - CAST(0.1 AS DOUBLE) * p_retailprice * l_quantity
                    AS DECIMAL(38,6))) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 shape: product-type profit by nation and year.
    Adaptation: no partsupp.ps_supplycost, so unit cost := 10% of
    p_retailprice. The per-row profit expression is evaluated in double
    with the identical association order on both engines, then summed
    exactly in decimal."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    supp_map = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    profit = f"({_REVENUE}) - 0.1D * p_retailprice * l_quantity"
    return (
        li.join(
            part.select("p_partkey", "p_retailprice"),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(supp_map, li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(dsum(profit, "sum_profit"))
    )


@register(
    "q_tpch_q10",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue ranking — filtered fact
    join, wide group-by keys carried through the aggregation, top-20 by
    revenue (TakeOrderedAndProject; the full sorted output is never
    materialized)."""
    cust = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-07-01"))
        & (F.col("o_orderdate") < _ts("1996-10-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_REVENUE, "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q_tpch_q11",
    oracle="""
    WITH scoped AS (
      SELECT l_partkey, l_extendedprice
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_5'
    )
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
             AS part_value
    FROM scoped
    GROUP BY l_partkey
    HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
           > CAST(0.001 AS DOUBLE) *
             (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
              FROM scoped)
    """,
)
def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 shape: important-stock HAVING-over-global-total — a
    grouped aggregate filtered against a scalar aggregate of the same
    scoped input. Adaptation: no partsupp, so part value := sum of
    l_extendedprice from NATION_5 suppliers. The scalar total is a
    1-row broadcast (cross join), never a driver collect; both sides of
    the > compare doubles derived from exact decimal sums."""
    nation5 = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    scoped = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(nation5, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    vals = scoped.groupBy("l_partkey").agg(dsum("l_extendedprice", "part_value"))
    total = scoped.agg(dsum("l_extendedprice", "total_value"))
    return (
        vals.join(F.broadcast(total))
        .filter(F.col("part_value") > F.lit(0.001) * F.col("total_value"))
        .select("l_partkey", "part_value")
    )


@register(
    "q_tpch_q12",
    oracle="""
    SELECT l_linestatus,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                 THEN 1 END) AS low_line_count
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'N'
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
)
def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape: shipping-priority split — conditional counts of
    order priority classes per line status. Adaptation: no l_shipmode /
    commit/receipt dates, so the mode filter becomes l_returnflag='N'
    and the date window uses l_shipdate."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_returnflag") == "N")
        & (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


@register(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 shape: customer order-count distribution — left outer
    join with an extra join-side predicate (NOT a post-filter: customers
    with only urgent orders must survive with count 0), then a second
    aggregation over the first's result. Adaptation: the o_comment
    NOT LIKE filter becomes o_orderpriority <> '1-URGENT'."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q_tpch_q15",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                  AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 shape: top supplier — a derived revenue view consumed
    twice (detail + scalar MAX), joined on equality with the scalar.
    The view is computed once and reused; MAX over doubles derived from
    exact decimal sums is engine-independent, so the equality is safe."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(_REVENUE, "total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(supplier, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q_tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape: supplier diversity per part class — NOT IN
    exclusion (left-anti join against a broadcast key set; s_suppkey is
    non-null so NOT-IN null semantics don't bite) plus COUNT(DISTINCT)
    per wide group. Adaptation: lineitem plays partsupp; the
    'complaints' comment filter becomes s_acctbal < 0."""
    excluded = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(excluded, li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(
            part.select("p_partkey", "p_brand", "p_type", "p_size"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@register(
    "q_tpch_q17",
    oracle="""
    WITH pa AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(l_quantity) AS avg_qty
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(7.0 AS DOUBLE) AS avg_yearly,
           COUNT(*) AS n
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON pk = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < CAST(0.2 AS DOUBLE) * avg_qty
    """,
)
def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 shape: small-quantity-order revenue — a correlated
    per-part AVG threshold, decorrelated to a grouped aggregate joined
    back to the fact (broadcast: one row per part). The threshold
    0.2*avg is computed identically (decimal-sum/count then double
    multiply) on both engines, so the < filter partitions rows
    identically."""
    li = _t(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        davg("l_quantity", "avg_qty")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    return (
        li.join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .join(pa, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q_tpch_q19",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive multi-branch predicate spanning both
    join sides — Catalyst extracts the common equi-key (partkey) for the
    join and keeps the OR-of-ANDs as a residual filter; the p_brand/
    p_size legs still push down to the part scan. Adaptation: no
    p_container, so each branch constrains p_size instead."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(dsum(_REVENUE, "revenue"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_tpch_q20",
    oracle="""
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE 'small%'
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 400
    )
    """,
)
def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape: potential-promotion suppliers — an IN over a
    grouped-HAVING subquery, decorrelated to a left-semi join against
    the (tiny, post-aggregation) qualifying key set. Adaptation: no
    partsupp availqty, so the threshold is total shipped quantity of
    'small%' parts in 1996. The HAVING compares exact decimals."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("small"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    qualifying = (
        li.join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("q"))
        .filter(F.col("q") > 400)
        .select("l_suppkey")
    )
    supplier = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    return supplier.join(
        qualifying,
        supplier.s_suppkey == F.col("l_suppkey"),
        "left_semi",
    )


@register(
    "q_tpch_q21",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders     ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape: suppliers-who-kept-orders-waiting — EXISTS and
    NOT EXISTS against the same fact, decorrelated to a left-semi then a
    left-anti self-join (equi on orderkey, non-equi residuals on suppkey
    and the lateness cutoff). Adaptation: no l_receiptdate/commitdate,
    so 'late' := l_shipdate > o_orderdate + 30 days."""
    late_cut = F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    l1 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > late_cut)
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    other = li.select(
        F.col("l_orderkey").alias("r_ok"),
        F.col("l_suppkey").alias("r_sk"),
        F.col("l_shipdate").alias("r_ship"),
    )
    waiting = l1.join(
        other,
        (l1.l_orderkey == other.r_ok) & (l1.l_suppkey != other.r_sk),
        "left_semi",
    ).join(
        other,
        (F.col("l_orderkey") == other.r_ok)
        & (F.col("l_suppkey") != other.r_sk)
        & (other.r_ship > late_cut),
        "left_anti",
    )
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "q_tpch_q22",
    oracle="""
    WITH qual AS (
      SELECT substr(c_name, 16, 2) AS cntrycode, c_custkey, c_acctbal
      FROM customer
      WHERE substr(c_name, 16, 2) IN ('04','14','24','34','44','54','64')
    )
    SELECT cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
    FROM qual
    WHERE c_acctbal >
          (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                  / COUNT(c_acctbal)
           FROM qual WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY cntrycode
    """,
)
def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape: global sales opportunity — substring-derived
    country code, a scalar AVG subquery threshold (1-row broadcast), and
    NOT EXISTS → left-anti join. Adaptations: cntrycode comes from the
    digits of c_name (no c_phone); 'has no orders' (vacuously false in
    this data — every customer orders) becomes 'has no URGENT orders'."""
    qual = (
        _t(spark, sf_dir, "customer")
        .select(
            F.substring("c_name", 16, 2).alias("cntrycode"),
            "c_custkey",
            "c_acctbal",
        )
        .filter(
            F.col("cntrycode").isin("04", "14", "24", "34", "44", "54", "64")
        )
    )
    avg_bal = qual.filter(F.col("c_acctbal") > 0).agg(
        davg("c_acctbal", "avg_bal")
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        qual.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, qual.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
    )
