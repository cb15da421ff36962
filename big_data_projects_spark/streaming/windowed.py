"""Event-time windowed aggregations as Structured Streaming jobs.

readStream over the events parquet → tumbling/sliding event-time
windows with a watermark → sink. For tests/oracle runs the sink is an
in-memory table driven to completion (the parquet batch acts as a
bounded stream); in production the same plan runs over a file/Kafka
source with the same watermark semantics.

Aggregates over double columns use exact decimal accumulation so the
final values are order-independent (streaming state updates arrive in
arbitrary order) and hash-match the batch/DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_projects_spark.data import load_stream
from big_data_projects_spark.streaming.core import run_to_completion


def _windowed_counts(
    spark: SparkSession, sf_dir: str, window_args: tuple, watermark: str
) -> DataFrame:
    """Shared window→count/sum→complete-mode shape.

    Complete output mode: every window is emitted at the final trigger
    (append mode would withhold windows newer than the watermark — with
    a bounded backfill the last hours would be missing).
    """
    stream = load_stream(spark, sf_dir, "events")
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", *window_args), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.unix_millis(F.col("window.start")).alias("window_start_ms"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return run_to_completion(agg, "complete")


def hourly_event_counts_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour counts + value sums per event_type."""
    return _windowed_counts(spark, sf_dir, ("1 hour",), watermark)


def sliding_event_counts_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Sliding windows: 1-hour width every 30 minutes — each event
    lands in exactly two windows. Same state machinery as tumbling;
    state size doubles (width/slide windows per event)."""
    return _windowed_counts(spark, sf_dir, ("1 hour", "30 minutes"), watermark)


def daily_topk_types_stream(
    spark: SparkSession, sf_dir: str, k: int = 3, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming windowed top-k: per event-time DAY, the k most
    frequent event types. Rank-over-aggregate isn't expressible inside
    a streaming plan (no windows over streaming aggregates), so this
    is the production two-stage shape: the STREAM maintains the
    watermarked per-(day, type) counts; the per-day rank runs on the
    drained result — in production, in the foreachBatch sink or the
    serving layer, over data that is already day-local and tiny."""
    from pyspark.sql import Window

    stream = load_stream(spark, sf_dir, "events")
    counts = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_millis(F.col("window.start")).alias("day_start_ms"),
            "event_type",
            "n",
        )
    )
    drained = run_to_completion(counts, "complete")
    w = Window.partitionBy("day_start_ms").orderBy(F.desc("n"), "event_type")
    return (
        drained.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )
