"""Query registry plumbing.

Every implemented operator gets a named entry: a Spark builder
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB
oracle SQL string over the same parquet tables. The driver runs both at
sf0.01 and compares row-count + schema + order-insensitive value hash —
so builders alias every computed column identically on both sides, and
aggregates over doubles use order-independent decimal accumulation
(see operators.relational.dsum).

``Query.spark`` wraps the builder in two steps, clearCache and the
runtime-conf pin; ``Query.raw`` is the builder alone.  Broadcast and
shuffle residue of earlier queries is left to Spark's ContextCleaner,
which runs after the JVM's own collections.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from big_data_projects_spark.session import ensure_runtime_conf


@dataclass(frozen=True)
class Query:
    spark: Callable[[SparkSession, str], DataFrame]
    # The un-wrapped builder: no clearCache and no conf pin, so it runs
    # under the caller's conf. For callers that do both themselves
    # outside a timed section (perfbench, tools/profile_query.py).
    raw: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # None → rows-only check, no value hash


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Operators persist multi-consumer intermediates (shingles,
            # signatures, segment explosions) that the lazily-returned
            # result still references, so they cannot unpersist before
            # the caller materializes. A long-lived session running
            # many queries back-to-back (the driver's CORRECTNESS
            # sweep, the pytest oracle harness) would accumulate those
            # caches until the driver heap fills — drop everything
            # cached by PRIOR queries before building this one.
            # persist() is advisory, so this can never change results;
            # by the time the next builder runs, the previous query's
            # output has been materialized by the caller.
            spark.catalog.clearCache()
            # The caller's session enters the package here: pin the
            # runtime conf once, for the builder and everything it calls.
            ensure_runtime_conf(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = Query(build, fn, oracle)
        return fn  # composed queries call the raw builder, un-wrapped

    return deco
