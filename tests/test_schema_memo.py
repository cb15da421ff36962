"""The parquet schema memo (``data.table_schema``): a table's schema is
inferred once, so loading it again builds a plan without a Spark job.

A bare ``spark.read.parquet`` runs a footer-reading job on every call
to infer a schema that has not changed.  The memo is keyed on the path,
the data files' count / newest mtime / total bytes and the session's
inference confs, so these tests also pin that a rewritten table or a
flipped conf is inferred afresh, and that non-local paths are never
memoized.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from big_data_projects_spark import data
from big_data_projects_spark.measure import jobs_launched

from conftest import SF_SMALL

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _inferring_load(spark, sf_dir, name):
    """``load_table`` without the memo: ``spark.read.parquet`` infers
    the schema, then the same nanos→µs and NTZ→TIMESTAMP normalization."""
    if name == "events":
        spark.conf.set(NANOS_AS_LONG, "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})


@pytest.mark.parametrize("name", data.TABLES)
def test_warm_load_launches_no_job_and_plans_like_inference(spark, name):
    data.load_table(spark, SF_SMALL, name)
    df, jobs = jobs_launched(spark, lambda: data.load_table(spark, SF_SMALL, name))
    assert jobs == 0
    inferred = _inferring_load(spark, SF_SMALL, name)
    assert df.dtypes == inferred.dtypes
    assert df._jdf.queryExecution().optimizedPlan().sameResult(
        inferred._jdf.queryExecution().optimizedPlan()
    )


def test_table_rewritten_under_the_same_path_is_read_with_its_new_schema(spark, tmp_path):
    sf_dir = str(tmp_path)
    for name in ("events", "documents"):
        path = os.path.join(sf_dir, f"{name}.parquet")
        shutil.copyfile(os.path.join(SF_SMALL, f"{name}.parquet"), path)
        before = data.load_table(spark, sf_dir, name).columns
        assert data.load_stream(spark, sf_dir, name).columns == before

        table = pq.read_table(path)
        extra = pa.array(range(table.num_rows), pa.int64())
        pq.write_table(table.append_column("extra", extra), path)

        after = data.load_table(spark, sf_dir, name)
        assert after.columns == before + ["extra"]
        assert sorted(r.extra for r in after.select("extra").collect()) == list(
            range(table.num_rows)
        )
        assert data.load_stream(spark, sf_dir, name).columns == before + ["extra"]


def test_inference_confs_are_part_of_the_memo_key(spark, tmp_path):
    prev = spark.conf.get(NANOS_AS_LONG)
    # events with ts stored as TIMESTAMP(NANOS): inferred as bigint
    # under nanosAsLong, rejected without it.
    table = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    ts = table.schema.get_field_index("ts")
    nanos = table.set_column(ts, "ts", table.column("ts").cast(pa.timestamp("ns")))
    (tmp_path / "nanos").mkdir()
    nanos_path = str(tmp_path / "nanos" / "events.parquet")
    pq.write_table(nanos, nanos_path, coerce_timestamps=None)
    # The stored events (µs) infer under either value: each value is
    # inferred once, and neither evicts the other.
    micros_path = str(tmp_path / "events.parquet")
    shutil.copyfile(os.path.join(SF_SMALL, "events.parquet"), micros_path)

    def schema_jobs(path):
        return jobs_launched(spark, lambda: data.table_schema(spark, path))[1]

    try:
        df = data.load_table(spark, str(tmp_path / "nanos"), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = df.select("event_id", F.unix_micros("ts").alias("us")).collect()
        micros = table.column("ts").cast(pa.int64()).to_pylist()
        assert sorted(tuple(r) for r in got) == sorted(
            zip(table.column("event_id").to_pylist(), micros)
        )
        spark.conf.set(NANOS_AS_LONG, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            data.table_schema(spark, nanos_path)

        spark.conf.set(NANOS_AS_LONG, "true")
        assert schema_jobs(micros_path) >= 1
        spark.conf.set(NANOS_AS_LONG, "false")
        assert schema_jobs(micros_path) >= 1
        assert schema_jobs(micros_path) == 0
        spark.conf.set(NANOS_AS_LONG, "true")
        assert schema_jobs(micros_path) == 0
    finally:
        spark.conf.set(NANOS_AS_LONG, prev)


def test_non_local_paths_are_not_memoized(spark):
    local = os.path.join(SF_SMALL, "region.parquet")
    uri = "file://" + local
    for _ in range(2):
        schema, jobs = jobs_launched(spark, lambda: data.table_schema(spark, uri))
        assert jobs >= 1
        assert schema == data.table_schema(spark, local)
