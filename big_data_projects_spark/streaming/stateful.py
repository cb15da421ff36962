"""Custom stateful streaming operators (applyInPandasWithState) and
stateful built-ins (streaming dedup, session windows).

The reference has no streaming at all (SURVEY.md §2.9); these are the
additive stateful shapes a stream pipeline needs beyond tumbling
windows: per-key running state, exactly-once-per-key dedup, and
gap-merged session windows.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from big_data_projects_spark.data import load_stream
from big_data_projects_spark.streaming.core import run_to_completion

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("vmax", DoubleType()),
    ]
)
_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("max_value", DoubleType()),
    ]
)


def _update_user_stats(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user running (count, max value) — the canonical custom-state
    kernel: fold the Arrow batches into scalars, merge with prior
    state, emit the updated aggregate for this key."""
    n, vmax = state.get if state.exists else (0, float("-inf"))
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            vmax = max(vmax, float(pdf["value"].max()))
    state.update((n, vmax))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "max_value": [vmax]}
    )


def user_running_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState: per-user running event count + max value.

    Update output mode: each micro-batch emits the refreshed aggregate
    per touched key; the memory sink therefore holds one row per
    (key, batch) — both n_events and max_value are monotone, so the
    final value per key is the row-wise max, taken batch-side after
    completion. State is partitioned by user_id (one shuffle), scales
    horizontally with keys.
    """
    stream = load_stream(spark, sf_dir, "events").select("user_id", "value")
    updated = stream.groupBy("user_id").applyInPandasWithState(
        _update_user_stats,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_to_completion(updated, "update")
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_value").alias("max_value"),
    )


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: first occurrence of each
    (user_id, event_type) passes, duplicates are dropped against the
    dedup state store. Append mode — each kept row is emitted once."""
    stream = load_stream(spark, sf_dir, "events").select("user_id", "event_type")
    return run_to_completion(stream.dropDuplicates(["user_id", "event_type"]), "append")


def stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup (dropDuplicatesWithinWatermark):
    duplicates of a key are dropped while its first occurrence is
    within the watermark horizon, after which the key's state is
    EVICTED — the production API for infinite streams, where plain
    dropDuplicates' state grows without bound. The 60-day horizon
    exceeds this bounded backfill's 30-day span, so no state evicts
    mid-run and the result provably equals global DISTINCT (the
    oracle); on a real feed the same plan runs with a horizon sized to
    the replay window."""
    stream = load_stream(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    deduped = (
        stream.withWatermark("ts", "60 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_completion(deduped, "append")


def session_window_stream(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Event-time session windows (gap-merged) per user: sessions close
    after `gap` of inactivity. Complete mode over the bounded backfill
    → final merged sessions, identical to batch gap-sessionization."""
    stream = load_stream(spark, sf_dir, "events")
    sess = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("session_window.start")).alias("session_start_ms"),
            "n_events",
        )
    )
    return run_to_completion(sess, "complete")
