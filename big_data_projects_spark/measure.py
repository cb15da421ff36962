"""Measurement forcing: evaluate a query END-TO-END without driver
transfer.

``df.count()`` is NOT that.  Catalyst optimizes the count: every
column the count does not need is pruned, which cancels output-only
projections and windows, and — via distinct-key join elimination —
whole join subtrees whose right side is an aggregate unique on the
join key.  A round-9 audit found 29 of 104 benched/smoked plans losing
work under count(), up to a bare parquet scan for the merge-ingest
shapes (the final ``batch LEFT JOIN best-verdicts`` collapses to
counting the batch, skipping candidate generation and verification
entirely).  Differential CORRECTNESS checks always materialize full
results, so only the *timing* artifacts were affected.

``force_count`` instead aggregates ``count(1)`` together with a
``bit_xor(xxhash64(<every output column>))``: hashing each column makes
every column — and hence every upstream operator — obligatory, while
still returning a single summary row to the driver.  The added cost is
one 64-bit hash per OUTPUT row (output ≪ input for everything timed),
so the measurement stays a measurement of the query.

``jobs_launched`` counts the Spark jobs a call launches — for a
builder, the jobs it runs before the caller asks for any result,
a drained stream's micro-batches included.
``round_trips`` counts the py4j commands a call sends to the JVM: every
PySpark ``Column`` call is one, so thousands of them while building
mean a Column chain that belongs in SQL text.
``codegen_compiles`` counts the generated classes the JVM compiled
during a call: a repeated query that compiles any has lost its classes
from Spark's codegen cache (``spark.sql.codegen.cache.maxEntries``).
"""

from __future__ import annotations

import threading
import uuid
from typing import Callable, TypeVar

from py4j.clientserver import ClientServerConnection
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

T = TypeVar("T")


def force_count(df: DataFrame) -> int:
    """Compute ``df`` end-to-end (all columns forced) and return its
    row count.  Map-typed columns are JSON-serialized first (hash
    expressions reject MapType — key order would make the hash
    nondeterministic)."""
    cols = [
        F.to_json(F.struct(F.col(c).alias("v"))) if "map<" in t else F.col(c)
        for c, t in df.dtypes
    ]
    # bit_xor, not sum: summing 2^63-scale hashes overflows int64 under
    # ANSI mode; xor combines them overflow-free and order-free.
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("h"),
    ).collect()[0]
    return row["n"]


def jobs_launched(spark: SparkSession, fn: Callable[[], T]) -> tuple[T, int]:
    """Run ``fn()`` under a fresh job tag and return its result with
    the number of Spark jobs it launched.

    A tag, not a job group: a streaming query's thread sets its own
    job group (its run id) but keeps the tags of the thread that
    started it, so a tag also counts the micro-batch jobs of a stream
    ``fn`` drains."""
    sc = spark.sparkContext
    tag = f"bdp_jobs_{uuid.uuid4().hex[:8]}"
    sc.addJobTag(tag)
    try:
        result = fn()
    finally:
        sc.removeJobTag(tag)
    # The status store learns of jobs from the listener bus.
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return result, len(jsc.statusTracker().getJobIdsForTag(tag))


def round_trips(fn: Callable[[], T]) -> tuple[T, int]:
    """Run ``fn()`` and return its result with the number of commands
    the calling thread sent to the JVM meanwhile.

    py4j's finalizer thread releases garbage-collected JavaObjects on
    its own schedule; those commands are not the call's, so only the
    calling thread's are counted."""
    send = ClientServerConnection.send_command
    me = threading.get_ident()
    calls = 0

    def counting(self, command):
        nonlocal calls
        calls += threading.get_ident() == me
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        result = fn()
    finally:
        ClientServerConnection.send_command = send
    return result, calls


def codegen_compiles(spark: SparkSession, fn: Callable[[], T]) -> tuple[T, int]:
    """Run ``fn()`` and return its result with the number of generated
    classes Janino compiled meanwhile (each a miss in Spark's codegen
    cache).

    The counter is the JVM's, not the call's: compiles of any other
    thread in the same JVM (a concurrent query, a stream) count too."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    result = fn()
    return result, metrics.METRIC_COMPILATION_TIME().getCount() - before
