"""Drains for the streaming queries in ``queries_streaming.py``.

Each query reads a bounded testdata table as a stream
(``data.load_stream``) and hands it to one of these drains: a memory
sink for aggregate-shaped results, a foreachBatch parquet sink for
results that scale with the data, or an AvailableNow trigger for
rate-limited ingest. The same plans run unchanged over a file/Kafka
source in production; only the sink and trigger differ.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame

from big_data_projects_spark.session import scratch_dir


def run_to_completion(df: DataFrame, output_mode: str) -> DataFrame:
    """Start df as a memory-sink streaming query, drain the source, and
    return the sink contents as a batch DataFrame.

    HARNESS-ONLY, for aggregate-shaped streams: the memory sink holds
    the whole result in the driver, bounded by the aggregate's group
    count (tens to thousands of rows). Streams whose output scales with
    the data — candidate pairs, per-row gates — must drain through
    run_to_distributed_batch (foreachBatch → parquet) instead.

    Nothing is collected: the returned frame's analyzed plan is bound
    to the stopped sink's rows, so it plans as a ``LocalTableScan`` in
    the JVM and stays readable after the sink's named view is dropped.
    The rows live as long as the frame does."""
    spark = df.sparkSession
    name = f"bdp_stream_{uuid.uuid4().hex[:8]}"
    query = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def run_to_distributed_batch(df: DataFrame) -> DataFrame:
    """Drain ``df`` through a foreachBatch parquet sink — the
    production shape for candidate-scale streams — and return the sink
    contents as a DISTRIBUTED batch DataFrame (read back from parquet;
    nothing proportional to the stream's output ever touches the
    driver). The sink dir is a scratch_dir, removed at process exit."""
    spark = df.sparkSession
    out = scratch_dir("bdp_stream_sink_")
    run_foreach_batch_to_parquet(df, out)
    if not any(f.startswith("part-") for f in os.listdir(out)):
        return spark.createDataFrame([], df.schema)
    return spark.read.parquet(out)


def run_foreach_batch_to_parquet(df, out_dir: str):
    """Drive ``df`` as a stream whose sink is a foreachBatch writing
    hive-partitioned parquet — the production sink shape (idempotent
    re-runs key on batch_id; here each bounded run appends its batches).
    Returns after the source is drained."""

    def write_batch(batch_df, batch_id: int):
        batch_df.write.mode("append").parquet(out_dir)

    query = df.writeStream.outputMode("append").foreachBatch(write_batch).start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()


def run_available_now_to_parquet(
    df: DataFrame, out_dir: str, ledger: list | None = None
) -> None:
    """Drive ``df`` with Trigger.AvailableNow — the production catch-up
    trigger: process everything available at start as rate-limited
    micro-batches (source options like maxFilesPerTrigger are honored,
    unlike a one-shot trigger-once), then stop on its own. foreachBatch
    appends each micro-batch to parquet; ``ledger`` (if given) collects
    the batch ids so callers can assert the rate limit actually split
    the backlog."""

    def write_batch(batch_df, batch_id: int):
        batch_df.write.mode("append").parquet(out_dir)
        if ledger is not None:
            ledger.append(batch_id)

    query = (
        df.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .foreachBatch(write_batch)
        .start()
    )
    query.awaitTermination()

