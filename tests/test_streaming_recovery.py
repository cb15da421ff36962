"""Checkpoint recovery: a restarted streaming query resumes from its
checkpoint and processes each source file exactly once.

This is the fault-tolerance contract production streams depend on:
the file source's committed offsets live in the checkpoint, so a
driver restart neither loses data (file B, added while down, is
picked up) nor duplicates it (file A, already committed, is not
re-emitted into the append sink).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_projects_spark.data import load_stream, load_table

SF = "/root/testdata/sf0.001"


def _drain(stream_df, out_dir: str, ck_dir: str) -> None:
    def write_batch(batch_df, batch_id: int):
        batch_df.write.mode("append").parquet(out_dir)

    query = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", ck_dir)
        .foreachBatch(write_batch)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()


def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path):
    ev = load_table(spark, SF, "events").select("event_id", "event_type", "value")
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    # Run 1: only file A exists; drain and stop (simulated crash).
    half_a.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    _drain(stream, out, ck)
    n_after_a = spark.read.parquet(out).count()
    assert n_after_a == half_a.count()

    # File B lands while the query is down.
    half_b.coalesce(1).write.mode("append").parquet(src)

    # Run 2: a fresh query object, same checkpoint → resumes offsets.
    stream2 = spark.readStream.schema(schema).parquet(src)
    _drain(stream2, out, ck)

    back = spark.read.parquet(out)
    total = ev.count()
    assert back.count() == total, "lost or duplicated rows across restart"
    assert back.select("event_id").distinct().count() == total
    # Value-level: the recovered sink is exactly the source table.
    src_sum = ev.agg(F.sum(F.col("value").cast("decimal(38,6)"))).collect()[0][0]
    out_sum = back.agg(F.sum(F.col("value").cast("decimal(38,6)"))).collect()[0][0]
    assert src_sum == out_sum


def test_restart_without_new_data_emits_nothing(spark, tmp_path):
    ev = load_table(spark, SF, "events").select("event_id", "value")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    ev.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    _drain(spark.readStream.schema(schema).parquet(src), out, ck)
    n1 = spark.read.parquet(out).count()
    # Restart with no new files: committed offsets make this a no-op.
    _drain(spark.readStream.schema(schema).parquet(src), out, ck)
    assert spark.read.parquet(out).count() == n1


def test_stateful_restart_resumes_aggregation_state(spark, tmp_path):
    """STATEFUL recovery: a running-count aggregation's state store
    survives the restart — after file B arrives, per-type counts equal
    the batch aggregate over A ∪ B (a fresh query without the old
    state would count only B)."""
    ev = load_table(spark, SF, "events").select("event_id", "event_type")
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))

    def drain_counts(schema):
        stream = spark.readStream.schema(schema).parquet(src)
        agg = stream.groupBy("event_type").count()

        def write_batch(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(out)

        q = (
            agg.writeStream.outputMode("complete")
            .option("checkpointLocation", ck)
            .foreachBatch(write_batch)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    half_a.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    drain_counts(schema)
    half_b.coalesce(1).write.mode("append").parquet(src)
    drain_counts(schema)  # fresh query object, same checkpoint + state

    got = {
        r["event_type"]: r["count"]
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want, f"state lost across restart: {got} != {want}"


def test_dedup_state_survives_restart(spark, tmp_path):
    """Dedup-state recovery: rows already admitted before the crash
    stay deduped after the restart — replaying a key present in file A
    inside file B must NOT re-emit it (a fresh query without the
    recovered state store would). Uses dropDuplicatesWithinWatermark,
    the bounded-state production dedup."""
    ev = load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    # File B replays half of A's rows verbatim plus the other half.
    replay = half_a.filter(F.col("event_id") % 4 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1).unionByName(replay)
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))

    def drain(schema):
        stream = spark.readStream.schema(schema).parquet(src)
        deduped = (
            stream.withWatermark("ts", "60 days")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type")
        )
        _drain(deduped, out, ck)

    half_a.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    drain(schema)
    half_b.coalesce(1).write.mode("append").parquet(src)
    drain(schema)  # fresh query object, same checkpoint + dedup state

    back = spark.read.parquet(out)
    # Exactly the batch-DISTINCT key set, each key exactly once: no
    # duplicates from the replay, nothing lost across the restart.
    assert back.count() == back.distinct().count()
    got = {(r.user_id, r.event_type) for r in back.collect()}
    want = {
        (r.user_id, r.event_type)
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert got == want


def test_available_now_honors_rate_limit(spark, tmp_path):
    """Trigger.AvailableNow must drain the staged backlog in
    rate-limited micro-batches (maxFilesPerTrigger=2 over 8 files → 4
    batches), then stop on its own — and deliver every row exactly
    once."""
    from big_data_projects_spark.streaming.core import (
        run_available_now_to_parquet,
    )

    src = load_table(spark, SF, "events").select("event_id", "value")
    stage = str(tmp_path / "stage")
    src.repartition(8).write.parquet(stage)
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(stage)
    )
    out = str(tmp_path / "out")
    ledger: list[int] = []
    run_available_now_to_parquet(stream, out, ledger)
    assert len(ledger) == 4, f"expected 4 rate-limited batches, got {ledger}"
    back = spark.read.parquet(out)
    assert back.count() == src.count()
    assert back.select("event_id").distinct().count() == src.count()


def _stream_rows(spark, sf_dir, cols):
    from big_data_projects_spark.streaming.core import run_to_completion

    out = run_to_completion(load_stream(spark, sf_dir, "documents"), "append")
    return sorted(tuple(r) for r in out.select(*cols).collect())


def test_multi_part_directory_streams_every_row(tmp_path, spark):
    """A Spark-written directory of part files streams every row."""
    docs = load_table(spark, SF, "documents")
    docs.repartition(3).write.parquet(str(tmp_path / "documents.parquet"))
    assert len(list((tmp_path / "documents.parquet").glob("part-*"))) == 3
    want = sorted(tuple(r) for r in docs.select("doc_id", "text").collect())
    assert _stream_rows(spark, str(tmp_path), ("doc_id", "text")) == want


def test_partitioned_directory_streams_its_partition_values(tmp_path, spark):
    """A partitionBy directory streams every row with the value of its
    partition column, which lives only in the directory names."""
    docs = load_table(spark, SF, "documents")
    docs.write.partitionBy("lang").parquet(str(tmp_path / "documents.parquet"))
    want = sorted(tuple(r) for r in docs.select("doc_id", "lang").collect())
    assert len({lang for _, lang in want}) > 1
    assert _stream_rows(spark, str(tmp_path), ("doc_id", "lang")) == want


def test_directory_rewritten_with_new_file_names_streams_its_rows(tmp_path, spark):
    """A directory source rewritten under the same path with new
    part-file names is re-staged: the stage cached for the old listing
    links deleted files and streamed zero rows without an error."""
    import shutil

    import pyarrow.parquet as pq

    from big_data_projects_spark.streaming.core import run_to_completion

    table = pq.read_table(f"{SF}/documents.parquet")
    assert table.num_rows == 500
    src = tmp_path / "documents.parquet"

    def write(names):
        shutil.rmtree(src, ignore_errors=True)
        src.mkdir()
        step = -(-table.num_rows // len(names))
        for i, name in enumerate(names):
            pq.write_table(table.slice(i * step, step), src / name)

    write(["part-a-0.parquet", "part-a-1.parquet"])
    assert run_to_completion(load_stream(spark, str(tmp_path), "documents"), "append").count() == 500
    write(["part-b-0.parquet", "part-b-1.parquet", "part-b-2.parquet"])
    assert run_to_completion(load_stream(spark, str(tmp_path), "documents"), "append").count() == 500


def test_run_to_completion_hands_back_the_sink_in_the_jvm(spark):
    """The memory sink's rows come back as a JVM-side local relation,
    not collected and re-pickled into a Python RDD, and the frame stays
    readable once its view is gone and the cache is cleared."""
    from big_data_projects_spark.streaming.core import run_to_completion

    stream = load_stream(spark, SF, "events").groupBy("event_type").count()
    out = run_to_completion(stream, "complete")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("bdp_stream_")]
    spark.catalog.clearCache()
    want = sorted(
        tuple(r) for r in load_table(spark, SF, "events").groupBy("event_type").count().collect()
    )
    assert sorted(tuple(r) for r in out.collect()) == want


def test_distributed_drain_handles_empty_stream(spark):
    """run_to_distributed_batch on a stream that emits zero rows must
    return an empty DataFrame with the stream's schema rather than
    failing on an empty parquet sink dir."""
    from big_data_projects_spark.streaming.core import run_to_distributed_batch
    from pyspark.sql import functions as F

    stream = load_stream(spark, SF, "documents").where(F.col("doc_id") < 0).select(
        "doc_id", "text"
    )
    out = run_to_distributed_batch(stream)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "text"]


def test_distributed_drain_never_collects_candidates(spark):
    """The drained candidate relation must be backed by files (a scan),
    not a driver-side LocalTableScan — the no-driver-collect contract
    for candidate-scale streams."""
    from big_data_projects_spark.streaming.core import run_to_distributed_batch

    stream = load_stream(spark, SF, "documents").select("doc_id")
    out = run_to_distributed_batch(stream)
    assert out.count() > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan
    assert "FileScan" in plan or "Scan parquet" in plan


def test_cdc_state_survives_restart(spark, tmp_path):
    """STATEFUL recovery for the CDC materialization shape
    (q_stream_cdc_apply): the per-key max-of-struct last-writer-wins
    state survives a checkpointed restart — after the second half of
    the changelog arrives, the materialized table equals the batch
    materialization over the WHOLE log. A fresh query without the old
    state would miss keys whose only changes were in the first half
    and mis-resolve keys whose latest change was."""
    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "ts", "value", "event_type"
    )
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))

    op = (
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op")
    )

    def drain(schema):
        stream = spark.readStream.schema(schema).parquet(src)
        agg = stream.select(
            "user_id", "ts", "event_id", "value", op
        ).groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "op", "value")).alias("last"),
            F.count(F.lit(1)).alias("n_changes"),
        )

        def write_batch(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(out)

        q = (
            agg.writeStream.outputMode("complete")
            .option("checkpointLocation", ck)
            .foreachBatch(write_batch)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    half_a.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    drain(schema)
    half_b.coalesce(1).write.mode("append").parquet(src)
    drain(schema)  # fresh query object, same checkpoint + state

    got = sorted(
        (r["user_id"], r["last"]["event_id"], r["n_changes"])
        for r in spark.read.parquet(out)
        .where(F.col("last.op") != "D")
        .collect()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    batch = (
        ev.select("user_id", "ts", "event_id", "value", op)
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_changes",
            F.count(F.lit(1)).over(Window.partitionBy("user_id")),
        )
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
    )
    want = sorted(
        (r["user_id"], r["event_id"], r["n_changes"])
        for r in batch.collect()
    )
    assert got == want, "CDC state lost or mis-resolved across restart"
