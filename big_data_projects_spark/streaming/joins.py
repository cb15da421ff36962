"""Streaming joins: stream⋈static enrichment and stream⋈stream
event-time correlation.

Stream-static: the canonical enrichment shape — each micro-batch of the
stream hash-joins against the dimension snapshot (the planner
broadcasts it when its size fits; no hint is forced, since the dim
scales with the data); no streaming state is kept for the static side,
so state scales with the stream alone. Stream-stream: both sides are buffered in the state store
bounded by their watermarks, and the event-time range condition lets
Spark evict rows the other side can no longer match — without the time
bound the state would grow forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_projects_spark.data import load_stream, load_table
from big_data_projects_spark.streaming.core import run_to_completion


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events stream ⋈ static customer dim → daily counts per segment.

    The dim join adds no streaming state; the windowed aggregate runs
    in complete mode (bounded backfill) with decimal-accumulated sums
    so state-update order cannot affect the result. No broadcast hint:
    the static side's size decides the join strategy at plan time.
    """
    stream = load_stream(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .join(cust, stream.user_id == cust.c_custkey)
        .groupBy(F.window("ts", "1 day"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.unix_millis(F.col("window.start")).alias("window_start_ms"),
            "c_mktsegment",
            "n",
            "total_value",
        )
    )
    return run_to_completion(agg, "complete")


def stream_stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self stream⋈stream join: each click pairs with the same user's
    purchases within the following hour.

    Both branches carry a watermark and the join condition bounds
    purchase time to [click, click + 1h], so the state store holds at
    most watermark+bound worth of rows per side — the only formulation
    that runs indefinitely. Append mode: pairs emit once both sides
    pass the watermark; processAllAvailable on the bounded source
    flushes everything.
    """
    ev = load_stream(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_millis("click_ts").alias("click_ms"),
        F.unix_millis("purchase_ts").alias("purchase_ms"),
    )
    return run_to_completion(joined, "append")


def stream_static_anti_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: the stream left-anti joins a static
    ledger of already-ingested record ids, so only never-seen records
    reach the aggregate — the shape a continuously-fed training corpus
    uses to keep replayed/overlapping feeds from double-counting.

    The ledger side is static (no streaming state); the anti join runs
    per micro-batch and the planner picks broadcast vs shuffled-hash
    from the ledger's size. At 100 TB the ledger is a bucketed/bloom-
    filtered table — the join shape is unchanged.
    """
    stream = load_stream(spark, sf_dir, "events")
    seen = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 3 == 0)
        .select("event_id")
    )
    agg = (
        stream.join(seen, "event_id", "left_anti")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    return run_to_completion(agg, "complete")
