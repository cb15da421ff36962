"""Table loaders over the driver-provided parquet testdata.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet per table under
/root/testdata/sf{0.001,0.01,0.1}/.

The reference read JSON with explicit schemas from a mounted S3 bucket
(transform-data.py:52-56,64-81,186-226); here sources are local parquet
whose schema is inferred from the file footers ONCE per table and then
passed back as an explicit read schema, so building a plan over a table
launches no Spark job (a bare ``spark.read.parquet`` runs a
footer-reading job on every call). The memo is keyed on the absolute
path, the data files' count, newest ``st_mtime_ns`` and total bytes,
and the session's values of the confs that change parquet inference
(``_INFERENCE_CONFS``): a table rewritten under the same path, or a
session that infers differently, gets a fresh inference. Non-local
(``scheme://``) paths are not memoized. Parquet scans get column
pruning + predicate pushdown from Catalyst for free.

Loaders set no session conf: the nanos-as-long read that a
TIMESTAMP(NANOS) column needs is pinned where the session enters the
package (session.ensure_runtime_conf).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

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

# Session confs whose values change the schema parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# (absolute path, inference conf values) -> (data files stamp, raw schema).
# One entry per path and conf combination: a rewrite replaces it.  The
# memo is per process, not per session: a StructType is plain Python,
# and the key carries the only session state inference depends on.
_SCHEMAS: dict[tuple, tuple[tuple[int, int, int], StructType]] = {}


def _files_stamp(path: str) -> tuple[int, int, int]:
    """(count, newest st_mtime_ns, total bytes) of the data files at
    ``path`` — the file itself, or every file under the directory that
    Spark's file index would list (names starting with ``.``, or with
    ``_`` and no ``=``, are skipped there and here)."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (1, st.st_mtime_ns, st.st_size)

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    count = newest = total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not hidden(d)]
        for f in files:
            if not hidden(f):
                st = os.stat(os.path.join(root, f))
                count += 1
                newest = max(newest, st.st_mtime_ns)
                total += st.st_size
    return (count, newest, total)


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer under this
    session's conf, before load_table's timestamp normalization;
    inferred on the first call per memo key (see the module docstring)
    and served from the memo afterwards."""
    if "://" in path or not os.path.exists(path):
        # Not local, or missing: Spark infers (or raises) as it would.
        return spark.read.parquet(path).schema
    key = (os.path.abspath(path), tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    # Stamp before inferring: a rewrite racing the inference leaves an
    # old stamp behind, which the next call re-infers past.  Racing
    # callers at worst infer twice.
    stamp = _files_stamp(path)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[key] = (stamp, schema)
    return schema


def normalize_timestamps(df: DataFrame, schema: StructType) -> DataFrame:
    """Turn ``df``'s raw parquet timestamps (``schema`` is its
    table_schema) into session-tz TIMESTAMP; works on batch and
    streaming DataFrames.

    - ``ts`` stored as parquet TIMESTAMP(NANOS), which Spark 4 reads
      only via the legacy nanos-as-long conf (pinned by
      session.ensure_runtime_conf), is converted with
      *integer* division (ns→µs — double division would lose precision
      at int64-nanosecond scale).
    - Columns written tz-naive (isAdjustedToUTC=false: events.ts,
      lineitem.l_shipdate, orders.o_orderdate) read as TIMESTAMP_NTZ
      when the session has inferTimestampNTZ on (Spark 4 default) —
      including a session the caller built, whose config we don't
      control. All engine operators and the DuckDB oracle treat these
      as UTC-naive wall clock, so they are reinterpreted as TIMESTAMP;
      under the UTC session tz (session.py) the cast preserves the
      wall-clock value exactly.
    """
    fixes = {}
    for f in schema.fields:
        if f.name == "ts" and isinstance(f.dataType, LongType):
            fixes[f.name] = F.timestamp_micros(F.expr("ts div 1000"))
        elif isinstance(f.dataType, TimestampNTZType):
            fixes[f.name] = F.col(f.name).cast("timestamp")
    return df.withColumns(fixes) if fixes else df


def _table_path(sf_dir: str, name: str) -> str:
    """Check ``name`` and return its path."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame (lazy parquet scan over
    the memoized schema; see normalize_timestamps for ``events.ts``
    and the tz-naive columns)."""
    path = _table_path(sf_dir, name)
    schema = table_schema(spark, path)
    return normalize_timestamps(spark.read.schema(schema).parquet(path), schema)


def load_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """readStream over one testdata table (a bounded backfill), with
    load_table's schema and timestamps.

    A directory table (part files, partitioned or not) is streamed from
    the directory itself; partition columns keep their values.  A
    single-file table is streamed from its parent directory filtered to
    its file name: the file source rejects a plain file path."""
    path = _table_path(sf_dir, name)
    schema = table_schema(spark, path)
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return normalize_timestamps(reader.parquet(path), schema)


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
