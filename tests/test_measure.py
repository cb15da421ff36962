"""Pins for measure: force_count, the benchmark forcing, must compute
the WHOLE query, and jobs_launched must see a drained stream's jobs.  A bare count() lets Catalyst prune output-only
columns/windows and eliminate left joins to unique-key aggregates —
the round-9 audit found 29 benched/smoked plans losing work that way
(merge-ingest count-plans collapsed to a bare scan), so the forcing
itself is contract-tested here."""

from __future__ import annotations

import re
import uuid

from pyspark.sql import functions as F

from big_data_projects_spark.data import load_stream
from big_data_projects_spark.measure import codegen_compiles, force_count, jobs_launched
from big_data_projects_spark.streaming.core import run_to_completion

from conftest import SF_SMALL


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _forcing_plan(df) -> str:
    cols = [
        F.to_json(F.struct(F.col(c).alias("v"))) if "map<" in t else F.col(c)
        for c, t in df.dtypes
    ]
    return _optimized(
        df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)))
    )


def _merge_shaped(spark):
    """The shape that collapsed under count(): ids LEFT JOIN a
    per-key aggregate, plus an output-only computed column."""
    base = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    best = base.groupBy("id").agg(F.sum("k").alias("mass"))
    return base.select("id").join(best, "id", "left").select(
        "id", F.coalesce("mass", F.lit(0)).alias("mass")
    )


def test_count_eliminates_the_join_but_force_count_keeps_it(spark):
    df = _merge_shaped(spark)
    count_plan = _optimized(df.groupBy().count())
    assert not re.search(r"\bJoin\b", count_plan), (
        "expected Catalyst to eliminate the unique-key left join under "
        "count() — if this stops holding, the forcing rationale should "
        "be re-checked, not deleted"
    )
    forced_plan = _forcing_plan(df)
    assert re.search(r"\bJoin\b", forced_plan), (
        "force_count must keep every output column obligatory so the "
        "join survives"
    )


def test_force_count_matches_count_and_handles_maps(spark):
    df = _merge_shaped(spark)
    assert force_count(df) == df.count() == 1000
    # Map-typed output columns go through to_json (hash expressions
    # reject MapType); row count still exact.
    m = spark.range(0, 10).select(
        F.create_map(F.lit("a"), F.col("id")).alias("m")
    )
    assert force_count(m) == 10


def test_force_count_keeps_output_only_windows(spark):
    """A window that only feeds an output column is pruned under
    count(); the forcing must retain it."""
    from pyspark.sql import Window

    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 5).alias("g")
    )
    w = df.select(
        "id", F.row_number().over(
            Window.partitionBy("g").orderBy("id")
        ).alias("rn")
    )
    assert "Window" not in _optimized(w.groupBy().count())
    assert "Window" in _forcing_plan(w)
    assert force_count(w) == 100


def test_jobs_launched_counts_micro_batch_jobs(spark):
    """A stream's thread runs its micro-batches under its own job group
    (the run id), so a group-based count saw none of them; the job tag
    of the thread that starts the stream carries over."""

    def drain():
        stream = load_stream(spark, SF_SMALL, "events").select("user_id")
        return run_to_completion(stream.dropDuplicates(["user_id"]), "append")

    drain()  # warm: the schema memo leaves the micro-batches as the only jobs
    _, jobs = jobs_launched(spark, drain)
    assert jobs >= 1


def test_codegen_compiles_counts_cache_misses_only(spark):
    """A plan no earlier call compiled costs at least one generated
    class; the same plan built again finds its classes in the codegen
    cache and compiles none."""
    k = 10**9 + uuid.uuid4().int % 10**9  # a literal no other plan holds

    def run():
        return spark.range(0, 100).select((F.col("id") * k).alias("x")).collect()

    rows, first = codegen_compiles(spark, run)
    rows_again, again = codegen_compiles(spark, run)
    assert rows == rows_again and len(rows) == 100
    assert first >= 1
    assert again == 0
