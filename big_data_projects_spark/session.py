"""SparkSession factory with scale-ready defaults, and the state a
session collects in this process.

The reference (transform-data.py:11-26) defines create_spark_session()
but never calls it (it relies on the Databricks `spark` global and would
NameError anyway — SURVEY.md §0). Here the session is explicit, with the
configs that matter for both local testing and a real cluster:
AQE (runtime re-planning + skew-join), UTC session timezone (the
reference's timestamp UDF was local-tz dependent — SURVEY.md §2.8 F1),
Arrow for any pandas interchange, and shuffle parallelism taken from
the session (one partition per core unless it set its own) rather
than the 200 default.

get_spark also sizes Spark's cache of compiled generated classes
(``spark.sql.codegen.cache.maxEntries``, 1000 instead of 100) to the
package's working set, so a repeated query reuses its classes instead
of recompiling them. It is a static SQL conf: ``spark.conf.set``
rejects it, so ensure_runtime_conf cannot pin it, and a session the
caller builds (``__spark_entry__``'s, for one) keeps the cap it was
built with.

The runtime conf is pinned (ensure_runtime_conf) only where a caller's
session enters the package: get_spark, the registry wrapper
(``Query.spark``), ``__spark_entry__.entry`` and
``reference_etl.run_reference_etl``. It also puts the package on the
path of Spark's Python workers. Builders, loaders and operators run
under whatever conf the session has and leave it as they found it
(``q_bloom_filter_join`` restores the thresholds it lowers for its own
planning); ``Query.raw`` callers pin themselves. Scratch directories
come from scratch_dir, under one root per process that is removed when
the process exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_REQUIRED_RUNTIME_CONF = {
    # Pinned by ensure_runtime_conf where a caller's session enters the
    # package: a caller may hand us a session we didn't build.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Plan-string generation is UNBOUNDED by default; the composed
    # pipeline queries (minhash bands × components iterations) produce
    # plan descriptions whose single contiguous char[] allocation OOM'd
    # a default-1g-heap driver session mid-sweep. 1M chars is plenty
    # for debugging and bounds the allocation to ~2 MB.
    "spark.sql.maxPlanStringLength": "1048576",
    # A parquet TIMESTAMP(NANOS) column is readable only as a long
    # (data.normalize_timestamps turns it into TIMESTAMP). Every table
    # is read under this value, not only the one with such a column:
    # the conf is part of data.table_schema's memo key.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Not pinned: the session owns its shuffle parallelism (see
# ensure_runtime_conf).
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

# The directory holding big_data_projects_spark, for the workers' path.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "big-data-projects-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this engine.

    Static confs (the codegen cache cap among them) take effect only
    when this call starts the JVM's SparkContext; a session that already
    runs keeps its own."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
        # Spark's JVM-wide cache of compiled generated classes holds 100
        # by default. One olap_etl pass uses ~145 (a perfbench run ~270), so
        # LRU evicted each before its next use and every pass recompiled
        # them (~0.9 s). Guava splits the cap over 4 segments, hence the
        # headroom.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_runtime_conf(spark)
    return spark


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs this engine's semantics depend on.

    Called where a caller's session enters the package (get_spark, the
    registry wrapper, ``__spark_entry__.entry``,
    ``reference_etl.run_reference_etl``), not inside builders: a
    verifier passes in its own SparkSession, and timestamp semantics
    (calendar extraction, epoch conversion) require a UTC session
    timezone to match the UTC-naive oracle (SURVEY.md §7 hard-parts #2).

    Shuffle parallelism is the session's: a value it set (a caller's
    ``conf.set`` or SparkConf) is kept, and only a session that never set
    one gets ``defaultParallelism`` (one partition per core) instead of
    Spark's 200, which streaming aggregations would run as 200
    state-store tasks per micro-batch (AQE does not coalesce them).

    Spark's Python workers (UDFs, Python data sources) import this
    package themselves, so its root is added to the PYTHONPATH they are
    started with: a caller may have put it only on the driver's
    ``sys.path``.
    """
    for k, v in _REQUIRED_RUNTIME_CONF.items():
        spark.conf.set(k, v)
    if not spark._jsparkSession.sessionState().conf().contains(_SHUFFLE_PARTITIONS):
        spark.conf.set(_SHUFFLE_PARTITIONS, str(spark.sparkContext.defaultParallelism))
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([*paths, _PACKAGE_ROOT])
    return spark


# (pid, path) of this process's scratch root; a forked child that asks
# for a directory gets a root of its own.  Two threads racing on the
# first call may each make a root: both are registered, so both go.
_SCRATCH_ROOT: tuple[int, str] | None = None


def scratch_dir(prefix: str) -> str:
    """A new directory for a builder's intermediate files.

    Every one lives under a single ``bdp_*`` root per process, created
    on first use and removed at exit by the process that created it.
    Builders return lazy DataFrames over these files, so nothing is
    removed before the process exits."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None or _SCRATCH_ROOT[0] != os.getpid():
        _SCRATCH_ROOT = (os.getpid(), tempfile.mkdtemp(prefix="bdp_"))
        atexit.register(_remove_scratch_root, *_SCRATCH_ROOT)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT[1])


def _remove_scratch_root(pid: int, root: str) -> None:
    if os.getpid() == pid:
        shutil.rmtree(root, ignore_errors=True)
