"""Reference-parity queries (SURVEY.md §2.12) + core analytic extensions.

Each entry re-expresses one operator row from the reference inventory on
the driver testdata, with a DuckDB oracle twin. Citations point at the
behavior being re-derived in /root/reference/Song-Analytics-with-Spark/.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from big_data_projects_spark.data import load_table as _t
from big_data_projects_spark.functions.timestamps import (
    CALENDAR_COLS,
    epoch_ms,
)
from big_data_projects_spark.operators.asof import asof_join
from big_data_projects_spark.operators.relational import (
    davg,
    dedup_rows,
    dsum,
    fill_defaults,
    grouped_count,
    project_rename,
    star_join,
    surrogate_key,
    top_k_per_group,
)
from big_data_projects_spark.operators.sessionize import sessionize
from big_data_projects_spark.registry import register
from big_data_projects_spark.session import scratch_dir


# ---------------------------------------------------------------------------
# Scans / projections / filters (S2, P1-P7 — transform-data.py:64-132)
# ---------------------------------------------------------------------------

@register(
    "q_scan_project_rename",
    oracle="""
    SELECT c_custkey AS cust_id, c_name AS cust_name, c_mktsegment AS segment
    FROM customer
    """,
)
def q_scan_project_rename(spark, sf_dir):
    """P1+P2: select + rename chains (transform-data.py:100-106)."""
    return project_rename(
        _t(spark, sf_dir, "customer"),
        {"c_custkey": "cust_id", "c_name": "cust_name", "c_mktsegment": "segment"},
    )


@register(
    "q_filter_eq",
    oracle="""
    SELECT event_id, user_id, value FROM events WHERE event_type = 'click'
    """,
)
def q_filter_eq(spark, sf_dir):
    """P5: equality filter (page='NextSong', transform-data.py:124)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "value")
    )


@register(
    "q_filter_neq",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment != 'BUILDING'
    """,
)
def q_filter_neq(spark, sf_dir):
    """P6: inequality predicate (userId != '', transform-data.py:156)."""
    return (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") != "BUILDING")
        .select("c_custkey", "c_mktsegment")
    )


@register(
    "q_fillna",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS acctbal_filled
    FROM customer
    """,
)
def q_fillna(spark, sf_dir):
    """P7: per-column null defaulting (fillna, transform-data.py:97-98).
    Testdata has no nulls, so nulls are introduced (negative balances →
    NULL) and then filled — exercising the same fillna path."""
    df = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("acctbal_filled"),
    )
    return fill_defaults(df, {"acctbal_filled": 0.0})


@register(
    "q_cast",
    oracle="""
    SELECT event_id, CAST(trunc(value) AS BIGINT) AS value_long FROM events
    """,
)
def q_cast(spark, sf_dir):
    """P4: double→long cast (registration cast, transform-data.py:132).
    Spark's double→long truncates toward zero; DuckDB's rounds, so the
    oracle truncs explicitly."""
    return _t(spark, sf_dir, "events").select(
        "event_id", F.col("value").cast("long").alias("value_long")
    )


@register(
    "q_dedup",
    oracle="""
    SELECT DISTINCT o_custkey, o_orderstatus FROM orders
    """,
)
def q_dedup(spark, sf_dir):
    """P8+P9: projected dropDuplicates (transform-data.py:100,106,138)."""
    return dedup_rows(
        _t(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Aggregations (A1 — transform-data.py:144-147)
# ---------------------------------------------------------------------------

@register(
    "q_groupby_count",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
    """,
)
def q_groupby_count(spark, sf_dir):
    """A1: listens-per-user analogue. Catalyst plans partial+final hash
    aggregation (map-side combine) — one shuffle on user_id."""
    return grouped_count(_t(spark, sf_dir, "events"), ["user_id"], "n_events")


@register(
    "q_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-01-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark, sf_dir):
    """Pricing-summary rollup (TPC-H Q1 shape): the agg surface the
    reference lacks (no sum/avg — SURVEY.md §2.4). Double sums go
    through exact decimal accumulation so results are order-independent
    and oracle-stable."""
    from big_data_projects_spark.data import spread_small_scan

    # The 5 decimal(38,6) partial sums are 128-bit BigDecimal work per
    # row — all in the scan stage, which is ≤3 partitions on the
    # single-row-group testdata; spread the filtered rows across cores
    # first (AFTER the filter so pushdown still reaches the scan;
    # no-op at real scale — see spread_small_scan; r12 optimization:
    # fresh-plan A/B 2.9 s → 1.2 s for the same shape).
    li = spread_small_scan(
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= "2000-01-01")
        .select(
            "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount",
        )
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price"),
        davg("l_quantity", "avg_qty"),
        davg("l_discount", "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Joins (J1-J3 — transform-data.py:152-165, 276-285)
# ---------------------------------------------------------------------------

@register(
    "q_join_agg_agg",
    oracle="""
    WITH purchases AS (
        SELECT user_id, COUNT(*) AS purchase_count FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    ),
    clicks AS (
        SELECT user_id, COUNT(*) AS click_count FROM events
        WHERE event_type = 'click' GROUP BY user_id
    )
    SELECT p.user_id, p.purchase_count, c.click_count
    FROM purchases p JOIN clicks c ON p.user_id = c.user_id
    """,
)
def q_join_agg_agg(spark, sf_dir):
    """J1: inner join of two filtered aggregates (paid×free users,
    transform-data.py:152-157). Post-aggregation inputs are small →
    AQE converts to broadcast join at runtime."""
    events = _t(spark, sf_dir, "events")
    purchases = grouped_count(
        events.filter(F.col("event_type") == "purchase"), ["user_id"], "purchase_count"
    )
    clicks = grouped_count(
        events.filter(F.col("event_type") == "click"), ["user_id"], "click_count"
    )
    return purchases.join(clicks, "user_id", "inner")


@register(
    "q_join_dim_report",
    oracle="""
    WITH purchases AS (
        SELECT user_id, COUNT(*) AS purchase_count FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    ),
    clicks AS (
        SELECT user_id, COUNT(*) AS click_count FROM events
        WHERE event_type = 'click' GROUP BY user_id
    )
    SELECT DISTINCT cu.c_custkey AS user_id, cu.c_name AS cust_name,
           p.purchase_count, c.click_count
    FROM customer cu
    JOIN purchases p ON cu.c_custkey = p.user_id
    JOIN clicks c ON p.user_id = c.user_id
    """,
)
def q_join_dim_report(spark, sf_dir):
    """J2: dim × report join + DISTINCT (transform-data.py:161-165)."""
    report = q_join_agg_agg(spark, sf_dir)
    customer = _t(spark, sf_dir, "customer")
    return (
        customer.join(report, customer.c_custkey == report.user_id, "inner")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_name").alias("cust_name"),
            "purchase_count",
            "click_count",
        )
        .distinct()
    )


@register(
    "q_join_multiway",
    oracle="""
    SELECT n_name, r_name, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    """,
)
def q_join_multiway(spark, sf_dir):
    """J3: the 4-way star join (transform-data.py:276-285) on proper
    surrogate keys (the reference joined on artist *name* / song *title*
    — non-unique natural keys, a fan-out hazard; SURVEY.md §4 #4).

    Physical strategy: nation/region broadcast explicitly; the
    lineitem⋈orders join is the only large shuffle; AQE handles
    customer (broadcast at small SF, shuffle at scale)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")

    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("n_name", "r_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_extendedprice * (1 - l_discount)", "revenue"),
    )


# ---------------------------------------------------------------------------
# Scalar functions / time dimension (F1-F3 — transform-data.py:126-177)
# ---------------------------------------------------------------------------

@register(
    "q_time_dim",
    oracle="""
    SELECT DISTINCT epoch_ms(ts) AS start_ms,
           year(ts) AS year, month(ts) AS month, day(ts) AS day,
           hour(ts) AS hour, minute(ts) AS minute,
           CAST(date_part('second', ts) AS BIGINT) AS second,
           week(ts) AS week, dayofweek(ts) + 1 AS weekday
    FROM events
    """,
)
def q_time_dim(spark, sf_dir):
    """F1+F2: the time dimension (transform-data.py:168-177) — epoch
    conversion + full calendar breakdown, built-ins only (the reference
    used a local-tz Python UDF; this is UTC-pinned JVM code). Spark
    weekofyear is ISO-8601 = DuckDB week; Spark dayofweek is 1=Sunday =
    DuckDB dayofweek+1."""
    events = _t(spark, sf_dir, "events")
    calendar = [
        F.expr(f"{sql.format(c='ts')} AS `{name}`") for name, sql in CALENDAR_COLS.items()
    ]
    return events.select(epoch_ms("ts").alias("start_ms"), *calendar).distinct()


@register(
    "q_concat",
    oracle="""
    SELECT n_nationkey, n_name || ' ' || r_name AS nr_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def q_concat(spark, sf_dir):
    """F3: string concat with literal separator (full_name,
    transform-data.py:162) via concat_ws."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(
        "n_nationkey", F.concat_ws(" ", "n_name", "r_name").alias("nr_name")
    )


# ---------------------------------------------------------------------------
# Windows / surrogate keys (W1, F4 — transform-data.py:287-298)
# ---------------------------------------------------------------------------

@register(
    "q_row_number",
    oracle="""
    SELECT event_id, row_number() OVER (ORDER BY event_id) AS rn FROM events
    """,
)
def q_row_number(spark, sf_dir):
    """W1 with the *intended* semantics: row_number over a real ordering
    (the reference ordered by the string literal "idx" — a constant —
    forcing Exchange SinglePartition with arbitrary numbering;
    SURVEY.md §2.5). Note: a global row_number is inherently single-
    partition; at scale use q_mono_id / zipWithIndex instead."""
    return surrogate_key(
        _t(spark, sf_dir, "events").select("event_id"), name="rn", order_by="event_id"
    )


@register("q_mono_id")  # nondeterministic ids → rows-only check
def q_mono_id(spark, sf_dir):
    """F4: monotonically_increasing_id — the scale-safe surrogate key
    (unique, non-consecutive, no shuffle; transform-data.py:290)."""
    return surrogate_key(
        _t(spark, sf_dir, "events").select("event_id"), name="mono_id", order_by=None
    )


@register(
    "q_top_k_per_group",
    oracle="""
    SELECT user_id, event_id, value, rk FROM (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS rk
        FROM events
    ) WHERE rk <= 3
    """,
)
def q_top_k_per_group(spark, sf_dir):
    """Partitioned-window top-K — the scalable ranking form (each group
    ranks in its own partition; no global sort). Deterministic tiebreak
    on event_id."""
    return top_k_per_group(
        _t(spark, sf_dir, "events").select("user_id", "event_id", "value"),
        keys=["user_id"],
        order=[F.col("value").desc(), F.col("event_id")],
        k=3,
    )


# ---------------------------------------------------------------------------
# Sessionization & as-of join (beyond-reference core operators)
# ---------------------------------------------------------------------------

@register(
    "q_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
)
def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag + running-sum
    windows, one shuffle on user_id."""
    events = _t(spark, sf_dir, "events")
    s = sessionize(events, "user_id", "ts", gap_seconds=1800, tiebreak_col="event_id")
    return s.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q_asof_join",
    oracle="""
    SELECT e.event_id, e.user_id, epoch_ms(o.o_orderdate) AS last_order_ms
    FROM events e
    ASOF JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def q_asof_join(spark, sf_dir):
    """As-of join: each event matched to the user's most recent order
    at-or-before the event. Spark lacks a native ASOF JOIN; this is the
    union-of-tagged-streams + last_value(ignore nulls) composition
    (operators/asof.py) — one shuffle, no broadcast requirement."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    od = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    joined = asof_join(
        ev, od, left_on="user_id", right_on="o_custkey",
        left_time="ts", right_time="o_orderdate", how="inner",
    )
    return joined.select(
        "event_id", "user_id", epoch_ms("asof_o_orderdate").alias("last_order_ms")
    )


# ---------------------------------------------------------------------------
# Sinks (S4-S5 — transform-data.py:313-335)
# ---------------------------------------------------------------------------

@register(
    "q_sink_parquet_partitioned",
    oracle="""
    SELECT year(ts) AS year, month(ts) AS month, COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q_sink_parquet_partitioned(spark, sf_dir):
    """S4: hive-partitioned parquet sink (partitionBy year,month —
    transform-data.py:325-327) with a read-back check: the partition
    columns come back via directory layout, and partition pruning
    applies on re-read."""
    events = _t(spark, sf_dir, "events")
    out = os.path.join(scratch_dir("bdp_sink_"), "events_parquet")
    (
        events.withColumn("year", F.year("ts"))
        .withColumn("month", F.month("ts"))
        .write.mode("overwrite")
        .partitionBy("year", "month")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy(
        F.col("year").cast("long").alias("year"),
        F.col("month").cast("long").alias("month"),
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "q_sink_csv_roundtrip",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_acctbal
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_sink_csv_roundtrip(spark, sf_dir):
    """S1+S5: header'd CSV sink (transform-data.py:333-335) + schema'd
    CSV scan (transform-data.py:33-41) round trip. Java's double
    formatting is shortest-roundtrip, so values survive exactly."""
    customer = _t(spark, sf_dir, "customer")
    out = os.path.join(scratch_dir("bdp_csv_"), "customer_csv")
    customer.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.csv(out, header=True, schema=customer.schema)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), dsum("c_acctbal", "sum_acctbal")
    )


@register(
    "q_sink_orc_roundtrip",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_sink_orc_roundtrip(spark, sf_dir):
    """Columnar-sink coverage beyond parquet (S4 family): ORC write +
    read-back, aggregated after the round trip. ORC is the other
    splittable columnar format a lake engine must speak; same
    predicate-pushdown/column-pruning machinery applies on scan."""
    orders = _t(spark, sf_dir, "orders")
    out = os.path.join(scratch_dir("bdp_orc_"), "orders_orc")
    orders.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price")
    )


# ---------------------------------------------------------------------------
# Flagship composition (used by entry(); rows-only — includes surrogate key)
# ---------------------------------------------------------------------------

@register(
    "q_flagship_star_rollup",
    oracle="""
    WITH listens AS (SELECT * FROM events WHERE event_type = 'click')
    SELECT r_name, n_name, c_mktsegment,
           year(ts) AS year, month(ts) AS month,
           COUNT(*) AS n_listens,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           row_number() OVER (ORDER BY r_name || '|' || n_name || '|' || c_mktsegment
                                        || '|' || CAST(year(ts) AS VARCHAR)
                                        || '|' || CAST(month(ts) AS VARCHAR)) AS num
    FROM listens
    JOIN customer ON user_id = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name, c_mktsegment, year(ts), month(ts)
    """,
)
def q_flagship_star_rollup(spark, sf_dir):
    """The composed songplays-style pipeline (SURVEY.md §7 phase 0):
    filter → calendar derive → broadcast star join → rollup → surrogate
    key over the small aggregate."""
    from big_data_projects_spark.pipeline import songplays_pipeline

    return songplays_pipeline(spark, sf_dir).select(
        "r_name", "n_name", "c_mktsegment", "year", "month",
        "n_listens", "total_value", "num",
    )


@register(
    "q_sql_entry_report",
    oracle="""
    WITH clicks AS (
        SELECT user_id, COUNT(*) AS click_count FROM events
        WHERE event_type = 'click' GROUP BY user_id
    ),
    purchases AS (
        SELECT user_id, COUNT(*) AS purchase_count FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT DISTINCT c_name || ' (' || c_mktsegment || ')' AS full_name,
           click_count, purchase_count
    FROM clicks a
    JOIN purchases b ON a.user_id = b.user_id
    JOIN customer ON a.user_id = c_custkey
    WHERE a.user_id IS NOT NULL
    """,
)
def q_sql_entry_report(spark, sf_dir):
    """The reference's SQL entry point end-to-end (§3.2): temp-view
    registration (S6, transform-data.py:140-159) + SQL-string queries
    (transform-data.py:152-165) — the J1 shape (two filtered aggregates
    of the same fact self-joined on user key = users active in BOTH
    classes) composed with the J2 dim join + DISTINCT report, and the
    F3 string concat. Identical Catalyst pipeline to the DataFrame API
    from the analyzer onward; SQL text is the only difference."""
    from big_data_projects_spark.data import register_views

    register_views(spark, sf_dir, ("events", "customer"))
    return spark.sql("""
        WITH clicks AS (
            SELECT user_id, COUNT(*) AS click_count FROM events
            WHERE event_type = 'click' GROUP BY user_id
        ),
        purchases AS (
            SELECT user_id, COUNT(*) AS purchase_count FROM events
            WHERE event_type = 'purchase' GROUP BY user_id
        )
        SELECT DISTINCT concat(c_name, ' (', c_mktsegment, ')') AS full_name,
               click_count, purchase_count
        FROM clicks a
        JOIN purchases b ON a.user_id = b.user_id
        JOIN customer ON a.user_id = c_custkey
        WHERE a.user_id IS NOT NULL
    """)


@register(
    "q_ctas_insert",
    oracle="""
    WITH t AS (
        SELECT o_orderpriority, o_totalprice FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT o_orderpriority, o_totalprice FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
    FROM t GROUP BY o_orderpriority
    """,
)
def q_ctas_insert(spark, sf_dir):
    """Catalog DML surface: CREATE TABLE AS SELECT materializes a
    managed parquet table, INSERT INTO appends a second selection,
    and the read-back aggregate proves both wrote exactly their input
    (the oracle is the UNION ALL of the two selections). Managed-table
    writes go through the same committer as path writes — appends are
    new files, never rewrites, which is what makes INSERT INTO safe
    to parallelize across jobs at scale."""
    import uuid

    orders = _t(spark, sf_dir, "orders")
    tbl = f"bdp_ctas_{uuid.uuid4().hex[:8]}"
    spark.sql(
        f"""CREATE TABLE {tbl} USING parquet AS
            SELECT o_orderpriority, o_totalprice FROM {{src}}
            WHERE o_orderstatus = 'F'""",
        src=orders,
    )
    spark.sql(
        f"""INSERT INTO {tbl}
            SELECT o_orderpriority, o_totalprice FROM {{src}}
            WHERE o_orderstatus = 'O'""",
        src=orders,
    )
    out = spark.table(tbl).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price")
    )
    # Materialize the result before the table would go stale; keep the
    # builder side-effect-contained (drop the catalog entry + files).
    # The rows are collected and rebuilt in the JVM: a Python round
    # trip would pickle them into a Python RDD.
    jout = out._jdf
    result = DataFrame(
        spark._jsparkSession.createDataFrame(jout.collectAsList(), jout.schema()),
        spark,
    )
    spark.sql(f"DROP TABLE {tbl}")
    return result


@register(
    "q_sink_json_roundtrip",
    oracle="""
    SELECT n_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_sink_json_roundtrip(spark, sf_dir):
    """JSON-lines sink + schema'd re-scan round trip (the S2 reader
    path applied to our own output), aggregated after read-back.
    Doubles survive because Spark serializes them shortest-roundtrip;
    the re-read passes the explicit schema — never inference, which
    at scale costs an extra full pass and can mistype sparse
    columns."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = customer.join(
        nation, customer.c_nationkey == nation.n_nationkey
    ).select("n_name", "c_acctbal")
    out = os.path.join(scratch_dir("bdp_json_"), "cust_json")
    joined.write.mode("overwrite").json(out)
    back = spark.read.schema(joined.schema).json(out)
    return back.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"), dsum("c_acctbal", "sum_bal")
    )
