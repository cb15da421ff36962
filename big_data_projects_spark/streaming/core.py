"""Shared Structured Streaming plumbing.

Every streaming query here follows one shape: readStream over the
bounded events parquet (staged behind a directory symlink, since the
file source wants a directory) → event-time stateful transform →
memory sink driven to completion with processAllAvailable(). The same
plan runs unchanged over a file/Kafka source in production; only the
sink and trigger differ.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from big_data_projects_spark.data import normalize_timestamps, table_schema
from big_data_projects_spark.session import scratch_dir

# One staging dir per source per process (reused across calls):
# repeated sweeps/tests must not accumulate stage dirs — the staging
# dir only holds symlinks to the read-only source files, so reuse is
# safe while the source lists the same files.  Value: (stage dir, the
# files it links).
_STAGE_CACHE: dict[str, tuple[str, list[str]]] = {}


def _staged_source(src: str, prefix: str) -> str:
    """Return a directory containing (symlinks to) ``src``'s data
    file(s), creating it on first use and reusing it afterwards while
    ``src`` lists the same files.  A source rewritten under new file
    names gets a fresh stage (the old one is removed): the stale
    links would point at deleted files and stream zero rows.

    ``src`` may be a single parquet file (the driver testdata shape)
    or a Spark-written DIRECTORY of part files (the scale-smoke
    corpora): the file-stream source lists only the top level of its
    path — a symlinked subdirectory is silently skipped and the
    stream reads ZERO rows (caught by the round-10 smoke run of
    q_stream_ivf_gate) — so directory sources are flattened by
    symlinking each part file directly into the stage dir.  The walk
    RECURSES: a hive-partitioned source (written with partitionBy)
    nests its part files one level down per partition column, and a
    single-level flatten would symlink those partition directories —
    reintroducing the same silent zero/partial-row skip one level
    deeper.  Note the flatten drops partition-column
    values encoded only in directory names; sources staged here carry
    their columns in the data files (the testdata/scale-smoke shape)."""
    if os.path.isdir(src):
        entries = []
        # followlinks=False: Spark-written sources nest
        # REAL directories (partitionBy subdirs), never symlinked ones,
        # and following directory symlinks both re-traverses the exact
        # shape the flatten exists to avoid staging and hangs forever
        # on a symlink cycle.  Symlinked FILES are still staged — only
        # directory-symlink descent is off.
        for root, dirs, files in os.walk(src, followlinks=False):
            dirs[:] = sorted(
                d for d in dirs if not d.startswith("_") and not d.startswith(".")
            )
            entries.extend(
                os.path.join(root, f)
                for f in sorted(files)
                if not f.startswith("_") and not f.startswith(".")
            )
    else:
        entries = [src]
    cached = _STAGE_CACHE.get(src)
    if cached is not None:
        stage, staged = cached
        if staged == entries and os.path.isdir(stage):
            return stage
        shutil.rmtree(stage, ignore_errors=True)
    stage = scratch_dir(prefix)
    for i, path in enumerate(entries):
        link = os.path.join(stage, f"{i:05d}_{os.path.basename(path)}")
        try:
            os.symlink(path, link)
        except OSError:
            shutil.copy(path, link)
    _STAGE_CACHE[src] = (stage, entries)
    return stage


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table (bounded backfill).

    The file-stream source requires an explicit schema: it is the
    batch table's (data.table_schema), and the timestamps are
    normalized exactly as in data.load_table (which sets nanos-as-long
    too: the conf is part of the schema memo's key).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    src = f"{sf_dir}/events.parquet"
    schema = table_schema(spark, src)
    stage = _staged_source(src, "bdp_stream_src_")
    return normalize_timestamps(spark.readStream.schema(schema).parquet(stage), schema)


def run_to_completion(df: DataFrame, output_mode: str) -> DataFrame:
    """Start df as a memory-sink streaming query, drain the source, and
    return the sink contents as a (materialized) batch DataFrame.

    HARNESS-ONLY, for aggregate-shaped streams: the memory sink plus
    the final collect are bounded by the aggregate's group count (tens
    to thousands of rows). Streams whose output scales with the data —
    candidate pairs, per-row gates — must drain through
    run_to_distributed_batch (foreachBatch → parquet, no driver
    collect) instead. The sink's named view (and the rows it holds in
    the driver) is dropped once its rows are collected."""
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
        result = spark.table(name)
        return spark.createDataFrame(result.collect(), schema=result.schema)
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


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents table (bounded backfill), same
    staging trick as events_stream. Documents carry no event time —
    callers run stateless transforms (append mode) or add an arrival
    timestamp if they need windows."""
    src = f"{sf_dir}/documents.parquet"
    stage = _staged_source(src, "bdp_stream_docs_")
    return spark.readStream.schema(table_schema(spark, src)).parquet(stage)


def embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the embeddings table (bounded backfill), same
    staging trick as documents_stream. No event time — vector-gate
    consumers run stateless in-row projections + stream-static joins
    in append mode."""
    src = f"{sf_dir}/embeddings.parquet"
    stage = _staged_source(src, "bdp_stream_emb_")
    return spark.readStream.schema(table_schema(spark, src)).parquet(stage)
