"""Table loaders over the driver-provided parquet testdata.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet per table under
/root/testdata/sf{0.001,0.01,0.1}/.

The reference read schema'd JSON from a mounted S3 bucket
(transform-data.py:52-56,64-81); here sources are local parquet with
schemas carried by the files themselves. Parquet scans get column
pruning + predicate pushdown from Catalyst for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame (lazy parquet scan).

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark 4
    rejects by default; it is read via the legacy nanos-as-long conf and
    converted to a proper timestamp with *integer* division (ns→µs —
    double division would lose precision at int64-nanosecond scale).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F

        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _normalize_ntz(df)
    return _normalize_ntz(spark.read.parquet(path))


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Reinterpret TIMESTAMP_NTZ columns as session-tz TIMESTAMP.

    Driver testdata written tz-naive (isAdjustedToUTC=false: events.ts,
    lineitem.l_shipdate, orders.o_orderdate) reads as TIMESTAMP_NTZ when
    the session has inferTimestampNTZ on (Spark 4 default) — including
    under the driver's own session, whose config we don't control. All
    engine operators and the DuckDB oracle treat these as UTC-naive wall
    clock, so reinterpret as TIMESTAMP; under the UTC session tz
    (session.py:22) the cast preserves the wall-clock value exactly.
    """
    from pyspark.sql import functions as F

    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register testdata tables as temp views for the SQL entry point.

    Mirrors the reference's createOrReplaceTempView usage
    (transform-data.py:140,149-150,159,269-273,293).
    """
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a DataFrame to the session's default
    parallelism — ONLY when it currently has fewer partitions.

    Why: the testdata tables are single-row-group parquet files, so a
    scan is ONE input partition no matter what maxPartitionBytes says
    (parquet cannot split below row-group granularity), and every
    scan-stage expression pipeline — shingle/minhash folds, tokenizer
    explosions, per-row quantization — runs single-threaded until the
    first exchange. Spreading the rows first runs that work on
    ``defaultParallelism`` tasks (the local core count) instead of one
    (measured 9s → 5.5s on q_cluster_purity's kmeans).

    Why it is safe at 100 TB: a real corpus scan has thousands of
    partitions, so the gate never fires and NO shuffle is ever added
    at scale. Callers place it AFTER filters (so pushdown still
    reaches the scan) and BEFORE the heavy projection.

    Consumers must be partition-layout independent (the repo-wide
    determinism discipline: decimal sums, keyed windows, min/max_by) —
    every oracle-backed operator already is, since the driver runs an
    arbitrary-core session.

    The partition count comes from the DataFrame's own physical plan:
    ``df.rdd`` would re-plan the whole subtree under a Python
    deserializer (~60 ms a probe warm, over a second on the first).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    jplan = df._jdf.queryExecution().executedPlan()
    if jplan.execute().getNumPartitions() < target:
        return df.repartition(target)
    return df
