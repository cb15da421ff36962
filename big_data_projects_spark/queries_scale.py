"""Scale-strategy operators: the techniques a 100 TB deployment leans on,
each expressed as a checkable query.

- q_stats_moments   : variance/stddev/correlation computed from exact
                      decimal power sums — the one-pass distributed form
                      (partial sums merge associatively; never a
                      two-pass mean-then-deviation scan).
- q_salted_join     : skew-defeating salted join — identical semantics
                      to the plain join (the oracle IS the plain join),
                      but the hot key's rows spread across NSALT
                      shuffle partitions.
- q_bucketed_join   : bucketed-table co-located fact⋈fact join — both
                      sides pre-bucketed on the join key, so the join
                      needs no Exchange at read time (tests/test_plans
                      asserts shuffle-freedom).
- q_scan_json_schema: schema'd JSON source (the reference's primary
                      input format, transform-data.py:64-81,186-226) —
                      explicit StructType, no inference pass, full
                      round-trip fidelity for the aggregated output.
- q_custom_source   : custom connector (Spark 4 Python DataSource API,
                      sources/synthetic.py) — oracle regenerates the
                      connector's deterministic output in SQL.
- q_custom_sink     : custom two-phase-commit sink (Python DataSource
                      writer API, sources/jsonl_sink.py) — write,
                      publish, re-read, value-exact round trip.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_projects_spark.data import load_table as _t
from big_data_projects_spark.operators.relational import dsum, salted_join
from big_data_projects_spark.registry import register
from big_data_projects_spark.session import scratch_dir

# Power-sum accumulator type. Per-row products (x·x, x·y) are computed
# in IEEE double — bit-identical on both engines for the same inputs —
# then cast to DECIMAL(38,6) so the SUM is partition-order independent
# (same pattern as dsum over revenue expressions). Pure decimal·decimal
# products would overflow DuckDB's width-addition rule instead.
_DEC = "decimal(38,6)"


@register(
    "q_stats_moments",
    oracle="""
    WITH sums AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(38,6))) AS sq,
             SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS sqq,
             SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS sp,
             SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6)))
               AS spp,
             SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS sqp
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(sq AS DOUBLE) / n AS mean_qty,
           (CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n)
             / n AS var_pop_qty,
           sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n)
             / n) AS stddev_pop_qty,
           round((n * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
             / (sqrt(n * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                * sqrt(n * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))), 12)
             AS corr_qty_price
    FROM sums
    """,
)
def q_stats_moments(spark, sf_dir):
    """Distributed second-moment statistics (variance / stddev /
    correlation) from exact decimal power sums: one hash aggregate
    computes {n, Σx, Σx², Σy, Σy², Σxy} (all associative — map-side
    partials merge exactly), then the moments are derived in double with
    the identical expression on both engines. The correlation is rounded
    to 12 decimals: its numerator n·Σxy − Σx·Σy cancels catastrophically
    (corr ≈ 5e-4 here), so last-ulp double differences between engines
    would otherwise surface; 12 digits is far beyond any statistical
    meaning and engine-stable. Spark's built-in
    var_pop/corr use Welford-style merging whose float rounding is
    partition-order dependent — power sums in decimal are not."""
    from big_data_projects_spark.data import spread_small_scan

    # The 5 decimal(38,6) power sums are 128-bit BigDecimal work per
    # row, all in the ≤3-partition testdata scan stage; spread first
    # (no-op at real scale — see spread_small_scan; r12 optimization:
    # fresh-plan A/B 2.9 s → 1.2 s for this exact shape).
    li = spread_small_scan(
        _t(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        )
    )
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q.cast(_DEC)).alias("sq"),
        F.sum((q * q).cast(_DEC)).alias("sqq"),
        F.sum(p.cast(_DEC)).alias("sp"),
        F.sum((p * p).cast(_DEC)).alias("spp"),
        F.sum((q * p).cast(_DEC)).alias("sqp"),
    )
    n = F.col("n")
    sq, sqq = F.col("sq").cast("double"), F.col("sqq").cast("double")
    sp, spp = F.col("sp").cast("double"), F.col("spp").cast("double")
    sqp = F.col("sqp").cast("double")
    var_pop = (sqq - sq * sq / n) / n
    corr = (n * sqp - sq * sp) / (
        F.sqrt(n * sqq - sq * sq) * F.sqrt(n * spp - sp * sp)
    )
    return sums.select(
        "l_returnflag",
        "n",
        (sq / n).alias("mean_qty"),
        var_pop.alias("var_pop_qty"),
        F.sqrt(var_pop).alias("stddev_pop_qty"),
        F.round(corr, 12).alias("corr_qty_price"),
    )


N_SALT = 8


@register(
    "q_salted_join",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_salted_join(spark, sf_dir):
    """Skew-defeating salted join: the fact side gets a deterministic
    salt in [0, N_SALT) hashed from its unique row id, the dim side is
    exploded N_SALT× so every (key, salt) combination exists, and the
    join runs on (key, salt) — a hot key's rows now land in N_SALT
    shuffle partitions instead of one straggler. Semantics are identical
    to the unsalted join, which is exactly what the oracle runs."""
    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(
        events,
        customer,
        fact_key="user_id",
        dim_key="c_custkey",
        fact_unique_col="event_id",
        n_salt=N_SALT,
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "total_value")
    )


@register(
    "q_bucketed_join",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
             AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_bucketed_join(spark, sf_dir):
    """Bucketed co-located fact⋈fact join (the 100 TB strategy for a
    join both of whose sides are too big to broadcast and which recurs
    on the same key): persist both sides bucketed+sorted by the join
    key, and every later join on that key reads bucket-aligned splits
    with NO shuffle — tests/test_plans.py asserts the plan has no
    Exchange above the scans. The one-time bucketing write IS a shuffle;
    it's amortized across every downstream join/aggregate on the key."""
    base = scratch_dir("bdp_bucketed_")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    for df, name, key in (
        (li, "bdp_li_bucketed", "l_orderkey"),
        (orders, "bdp_orders_bucketed", "o_orderkey"),
    ):
        (
            df.write.mode("overwrite")
            .option("path", os.path.join(base, name))
            .bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    li_b = spark.table("bdp_li_bucketed")
    # At test scale the orders side fits the broadcast threshold and
    # AQE would hide the co-located-join shape this query exists to
    # show (at 100 TB neither side broadcasts); ask for the merge join.
    orders_b = spark.table("bdp_orders_bucketed").hint("shuffle_merge")
    return (
        li_b.join(orders_b, li_b.l_orderkey == orders_b.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("l_extendedprice", "sum_price"),
        )
    )


@register(
    "q_scan_json_schema",
    oracle="""
    SELECT event_type, year(ts) AS year, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_scan_json_schema(spark, sf_dir):
    """S2, the reference's primary source: JSON lines read with an
    explicit StructType (transform-data.py:77-79 — .schema(schema),
    never inference, which would cost a second full scan). The events
    table round-trips through JSON and aggregates to the same result as
    the parquet original; doubles survive exactly (shortest-roundtrip
    formatting), timestamps to millisecond precision (year-granularity
    output is unaffected)."""
    events = _t(spark, sf_dir, "events")
    out = os.path.join(scratch_dir("bdp_json_"), "events_json")
    events.write.mode("overwrite").json(out)
    back = spark.read.schema(events.schema).json(out)
    return back.groupBy(
        "event_type", F.year("ts").cast("long").alias("year")
    ).agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))


@register(
    "q_compaction",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             AS total_price
    FROM orders
    """,
)
def q_compaction(spark, sf_dir):
    """Small-file compaction — the housekeeping a 100 TB table needs
    after streaming/append ingestion: read the fragmented layout,
    repartition to the target file count, rewrite. The query fragments
    orders into 64 files, compacts to 4, verifies the file count
    dropped, and proves the data survived byte-for-byte by aggregating
    the compacted copy against the original's oracle."""
    orders = _t(spark, sf_dir, "orders")
    base = scratch_dir("bdp_compact_")
    frag, compact = os.path.join(base, "frag"), os.path.join(base, "compact")
    orders.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(
        compact
    )
    n_frag = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    n_compact = len(
        [f for f in os.listdir(compact) if f.endswith(".parquet")]
    )
    assert n_compact < n_frag, (n_compact, n_frag)
    return (
        spark.read.parquet(compact)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice", "total_price"),
        )
    )


@register(
    "q_scan_json_corrupt",
    oracle="""
    SELECT 'good' AS status, COUNT(*) AS n FROM events
    UNION ALL
    SELECT 'corrupt', 3
    """,
)
def q_scan_json_corrupt(spark, sf_dir):
    """PERMISSIVE corrupt-record handling on the JSON source: 3 broken
    lines are injected into an otherwise-valid JSON dump; the schema'd
    read routes them to _corrupt_record instead of failing the job (at
    100 TB a single bad record must never kill a scan), and the query
    accounts for good vs corrupt rows. The oracle pins the invariant:
    all original rows parse, exactly the injected lines quarantine."""
    events = _t(spark, sf_dir, "events")
    out = os.path.join(scratch_dir("bdp_json_bad_"), "events_json")
    events.write.mode("overwrite").json(out)
    bad = os.path.join(out, "zz_corrupt.json")
    with open(bad, "w") as fh:
        fh.write('{"event_id": broken\n{not json at all\n{"ts": "}\n')

    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        list(events.schema.fields)
        + [StructField("_corrupt_record", StringType(), True)]
    )
    # Spark refuses scans whose only referenced column is the internal
    # corrupt-record column (the pruned projection here); caching the
    # parsed result first is the documented pattern.
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
        .cache()
    )
    status = F.when(F.col("_corrupt_record").isNull(), "good").otherwise(
        "corrupt"
    )
    return back.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "q_salted_agg",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           MAX(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def q_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation for skewed group keys: phase 1
    aggregates on (key, salt) — a hot key's rows spread over N_SALT
    reducers instead of one straggler — phase 2 merges the per-salt
    partials on the bare key. Only decomposable aggregates qualify
    (count adds, decimal sums add, max takes max — the same merge
    algebra as q_incremental_rollup). With only 5 event types, every
    group is "hot" relative to 32 reducers, which is precisely the
    cardinality regime (few groups, huge groups) where this rewrite
    pays off at scale. The oracle is the plain one-phase aggregate."""
    ev = _t(spark, sf_dir, "events")
    dec = "decimal(38,6)"
    salted = ev.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALT))
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(dec)).alias("sum_dec"),
        F.max("value").alias("max_value"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("n").alias("n"),
        F.sum("sum_dec").cast("double").alias("total_value"),
        F.max("max_value").alias("max_value"),
    )


@register(
    "q_entropy",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, COUNT(*) AS k
        FROM events GROUP BY 1, 2
    ),
    n AS (SELECT user_id, CAST(SUM(k) AS BIGINT) AS n FROM c GROUP BY 1)
    SELECT c.user_id,
           CAST(-SUM(CAST(round((k / CAST(n AS DOUBLE))
                                * ln(k / CAST(n AS DOUBLE)) * 1e9)
                          AS BIGINT)) AS DOUBLE) / 1e9 AS entropy
    FROM c JOIN n ON c.user_id = n.user_id
    GROUP BY c.user_id
    """,
)
def q_entropy(spark, sf_dir):
    """Per-user Shannon entropy of the event-type mix — the diversity
    score a curation pipeline uses to find single-behavior bots (H→0)
    vs uniform explorers (H→ln 5). Two bounded-key aggregates, no
    window.

    Determinism is the pagerank_units recipe, not the round-then-
    decimal-sum one: each p·ln p term is quantized to INTEGER
    nano-units (round(t·1e9) → BIGINT — one shared double multiply,
    then a round whose non-tie result is engine-independent because
    both engines see the same binary double and ties need the double
    EXACTLY on k+0.5, a measure-zero grid hit), int64-summed (exact,
    order-free), and converted once at the end by the same
    int→double÷1e9 op on both engines.  The previous shape — terms
    round(·,12)→DECIMAL(38,18), final round(·,10) — died on a
    testdata refresh: sums of exact 9/12-decimal terms land on the
    final round's tie ("…50") with P ≈ 1e-2 per user, and AT a tie
    the engines disagree because Spark casts double→decimal via the
    shortest decimal rendering while DuckDB expands the binary value
    (the pagerank_units docstring's 18th-digit note), flipping the
    last kept digit.  Integer units have no second round, so no tie
    to disagree on."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("k"))
    n = c.groupBy("user_id").agg(F.sum("k").alias("n"))
    p = F.col("k") / F.col("n").cast("double")
    units = F.round(p * F.log(p) * F.lit(1e9)).cast("long")
    return (
        c.join(n, "user_id")
        .groupBy("user_id")
        .agg(
            ((-F.sum(units)).cast("double") / F.lit(1e9)).alias("entropy")
        )
    )


@register(
    "q_shuffle_hash_hint",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_shuffle_hash_hint(spark, sf_dir):
    """Explicit physical join-strategy control: the SHUFFLE_HASH hint
    forces a ShuffledHashJoin where the planner would default to
    broadcast or sort-merge. The knob matters at scale when the build
    side fits per-partition memory but not the broadcast threshold —
    hash build beats the sort-merge's two sorts. Results are
    strategy-independent (the oracle is the plain join); the plan
    shape is asserted in tests/test_plans.py."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        orders.join(
            customer.hint("shuffle_hash"),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SYNTH_ROWS = 20000

from big_data_projects_spark.sources import synthetic as _synth  # noqa: E402


@register(
    "q_custom_source",
    oracle=f"""
    WITH synth AS ({_synth.oracle_sql(_SYNTH_ROWS)})
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(amount AS DECIMAL(38,6))) AS DOUBLE) AS total_amount,
           MIN(ts_micros) AS first_ts,
           MAX(ts_micros) AS last_ts
    FROM synth GROUP BY event_type
    """,
)
def q_custom_source(spark, sf_dir):
    """Custom connector end-to-end (Spark 4 Python DataSource API):
    read the deterministic synthetic event stream through the
    registered ``bdp_synth`` source — Spark schedules its partitions()
    like any other scan — then aggregate per event type. The oracle
    REGENERATES the identical relation in SQL (every field of row i
    derives from md5(str(i))), so the driver's value-hash verifies the
    connector's output itself, not just a row count. ``sf_dir`` is
    unused: the source is its own data."""
    _synth.register(spark)
    df = (
        spark.read.format("bdp_synth")
        .option("n_rows", _SYNTH_ROWS)
        .option("n_partitions", 8)
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum(F.col("amount").cast("decimal(38,6)"))
        .cast("double")
        .alias("total_amount"),
        F.min("ts_micros").alias("first_ts"),
        F.max("ts_micros").alias("last_ts"),
    )


@register(
    "q_custom_sink",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
             AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_custom_sink(spark, sf_dir):
    """Custom sink end-to-end (Spark 4 Python DataSource writer API):
    aggregate orders, write through the bdp_jsonl two-phase-commit
    sink (per-task temp files published only by the driver-side
    commit), then re-read the published files with an explicit schema
    and return them. The oracle is the plain aggregate, so the
    round-trip through the custom writer must be value-exact (JSON
    shortest-repr doubles round-trip losslessly)."""
    from big_data_projects_spark.sources import jsonl_sink

    jsonl_sink.register(spark)
    agg = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_price"),
        )
    )
    out = scratch_dir("bdp_custom_sink_")
    agg.write.format("bdp_jsonl").option("path", out).mode("append").save()
    return spark.read.schema(
        "o_orderpriority string, n_orders bigint, total_price double"
    ).json(out)


@register(
    "q_scan_text_lines",
    oracle="""
    SELECT doc_id % 10 AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct
    FROM documents GROUP BY 1
    """,
)
def q_scan_text_lines(spark, sf_dir):
    """Line-oriented text source (``spark.read.text``) — the rawest
    ingestion format a web-scale corpus arrives in (one record per
    line, no schema). The corpus is dumped as ``doc_id\\ttext`` lines,
    re-read as unparsed lines, and parsed with built-in split — the
    parse stays in codegen, no Python. The aggregate proves lossless
    round-trip against the parquet original.

    Scale shape: text files split on line boundaries, so a 100 TB dump
    parallelizes to one task per HDFS block; the parse is per-row
    (no shuffle) and the rollup is a single map-side-combined shuffle
    on a 10-value key. Synthetic text is \\t/\\n-free (word lists); the
    write asserts that precondition rather than assuming it."""
    docs = _t(spark, sf_dir, "documents")
    out = os.path.join(scratch_dir("bdp_text_"), "docs_txt")
    dumped = docs.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), "text").alias(
            "value"
        )
    )
    assert (
        docs.filter(
            F.col("text").contains("\t") | F.col("text").contains("\n")
        ).limit(1).count()
        == 0
    ), "text contains record separators; escape before dumping"
    dumped.write.mode("overwrite").text(out)
    back = spark.read.text(out).select(
        F.split("value", "\t", 2)[0].cast("long").alias("doc_id"),
        F.split("value", "\t", 2)[1].alias("text"),
    )
    return back.groupBy((F.col("doc_id") % 10).alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
    )


_BINFILE_DOCS = 64  # files in the binary-scan fixture (doc_id < 64)


@register(
    "q_scan_binaryfile",
    oracle=f"""
    SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes, md5(text) AS content_md5
    FROM documents WHERE doc_id < {_BINFILE_DOCS}
    """,
)
def q_scan_binaryfile(spark, sf_dir):
    """Whole-file binary source (``binaryFile`` format) — the ingestion
    path for multimodal assets (images/audio/video arrive as files, not
    rows; operators/multimodal.py picks up from the binary column this
    scan produces). A 64-file fixture is materialized from the corpus
    (driver-side: fixture setup, not the query), then scanned with
    ``spark.read.format("binaryFile")``; doc identity is recovered from
    the file path and the content bytes are length- and md5-verified
    against the source-of-truth table.

    Scale shape: binaryFile lists files on the driver but reads
    contents in executors (one task per file batch; contents never
    centralize); path/length/hash derivation is per-row with no
    shuffle. ASCII text == its UTF-8 bytes, so DuckDB's md5(varchar)
    matches Spark's md5(binary) over file bytes."""
    docs = _t(spark, sf_dir, "documents")
    base = scratch_dir("bdp_binfile_")
    rows = (
        docs.filter(F.col("doc_id") < _BINFILE_DOCS)
        .select("doc_id", "text")
        .collect()  # fixture setup only: 64 small files, never the query path
    )
    for r in rows:
        with open(os.path.join(base, f"doc_{r.doc_id:05d}.bin"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    back = spark.read.format("binaryFile").load(base)
    return back.select(
        F.regexp_extract(
            F.element_at(F.split("path", "/"), -1), r"doc_(\d+)\.bin", 1
        )
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@register(
    "q_zorder_layout",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
             AS sum_price
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 40
    """,
)
def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustered rewrite — what Delta OPTIMIZE ZORDER
    BY / Iceberg sort orders do for multi-dimension scan pruning: the
    table is rewritten sorted by the bit-interleaved (l_partkey,
    l_suppkey) key via repartitionByRange + sortWithinPartitions, so
    EVERY file holds a bounded range of BOTH columns and a filter on
    either dimension skips most row groups (min/max stats). The
    aggregate over the two-dimensional band filter proves the rewrite
    lost nothing; tests/test_plans.py asserts the clustering actually
    bounds both columns' per-file spread vs a single-column sort.

    Scale shape: one range shuffle on the z-key (sampled boundaries,
    balanced output files) + local sorts; the z-key itself is pure
    shift/and/or codegen — no UDF, no extra pass."""
    from big_data_projects_spark.operators.layout import zordered

    li = _t(spark, sf_dir, "lineitem")
    base = os.path.join(scratch_dir("bdp_zorder_"), "li_z")
    zordered(li, ["l_partkey", "l_suppkey"]).write.mode(
        "overwrite"
    ).parquet(base)
    back = spark.read.parquet(base).filter(
        F.col("l_partkey").between(100, 300)
        & F.col("l_suppkey").between(10, 40)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"), dsum("l_extendedprice", "sum_price")
    )


@register(
    "q_bloom_filter_join",
    oracle="""
    SELECT strftime(o.o_orderdate, '%Y-%m') AS order_month,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
)
def q_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filtered fact⋈dim join: Spark injects a bloom filter
    built from the selective orders side into the lineitem scan
    (BloomFilterMightContain over xxhash64(l_orderkey), asserted by
    tests/test_plans.py), so fact rows that cannot join are dropped
    BEFORE the shuffle. At 100 TB this is the difference between
    shuffling the whole fact table and shuffling only the ~20% that
    matches a selective dim predicate — the row-level complement of
    partition-level dynamic pruning. Local-scale thresholds are
    lowered only while this builder plans (a join hint does not get
    the bloom filter): the returned frame keeps the plan made under
    them, and the session's own values are restored before it returns.
    """
    # Local parquet is far below the 10G application-side / broadcast
    # thresholds; lower both so the plan exercises the same injection a
    # 100 TB fact scan would get by default.
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}  # None: unset
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = _t(spark, sf_dir, "lineitem")
        o = _t(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        df = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                dsum("l_extendedprice", "revenue"),
            )
        )
        # Plan now: the frame's query execution keeps this plan.
        df._jdf.queryExecution().executedPlan()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return df


@register(
    "q_range_sharded_write",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(0 AS BIGINT) AS n_overlapping_file_pairs
    FROM documents
    """,
)
def q_range_sharded_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Totally-ordered output sharding WITHOUT a global sort: the write
    path every exported training corpus needs (readers want doc_id-
    contiguous shards). repartitionByRange samples split points and
    range-shuffles (balanced shards, no single-partition bottleneck),
    sortWithinPartitions orders locally — so the file set is globally
    ordered: every file owns a DISJOINT doc_id range. The read-back
    proves content preservation (row/doc counts vs the oracle) and
    computes the actual per-file [min,max] overlap count, which must
    come back 0 — the interval self-join runs over the n_files-row
    stats relation (control-plane sized, a broadcast nested loop over
    dozens of rows even at 100 TB: file COUNT, not file content)."""
    docs = _t(spark, sf_dir, "documents")
    base = os.path.join(scratch_dir("bdp_range_"), "docs_sharded")
    (
        docs.repartitionByRange(8, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(base)
    )
    back = spark.read.parquet(base)
    files = back.groupBy(F.input_file_name().alias("__f")).agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    a = files.select(
        F.col("__f").alias("fa"), F.col("lo").alias("la"), F.col("hi").alias("ha")
    )
    b = files.select(
        F.col("__f").alias("fb"), F.col("lo").alias("lb"), F.col("hi").alias("hb")
    )
    overlaps = (
        a.join(b, F.col("fa") < F.col("fb"))
        .filter((F.col("la") <= F.col("hb")) & (F.col("lb") <= F.col("ha")))
        .agg(F.count(F.lit(1)).alias("n_overlapping_file_pairs"))
    )
    stats = back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return stats.crossJoin(F.broadcast(overlaps))


@register(
    "q_scan_merge_schema",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(lang) AS BIGINT) AS n_with_lang,
           CAST(COUNT(n_chars) AS BIGINT) AS n_with_chars
    FROM (
        SELECT source, lang, NULL AS n_chars FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT source, NULL, n_chars FROM documents WHERE doc_id % 2 != 0
    ) GROUP BY source
    """,
)
def q_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift ingestion: two parquet batches written with
    DIFFERENT column sets (an ingest feed that gained/lost fields mid-
    stream), read back as ONE relation via mergeSchema — missing
    columns come back NULL per batch, exactly as the oracle's padded
    UNION ALL states. The production contract for long-lived feeds:
    schema evolution happens at the scan, not with a backfill rewrite.
    Footer-merge cost is bounded by file COUNT (control-plane), not
    data size."""
    docs = _t(spark, sf_dir, "documents")
    base = os.path.join(scratch_dir("bdp_drift_"), "feed")
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "source", "lang"
    ).write.mode("overwrite").parquet(base + "/batch=old")
    docs.filter(F.col("doc_id") % 2 != 0).select(
        "doc_id", "source", "n_chars"
    ).write.mode("overwrite").parquet(base + "/batch=new")
    back = spark.read.option("mergeSchema", "true").parquet(base)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("lang").alias("n_with_lang"),
        F.count("n_chars").alias("n_with_chars"),
    )


@register(
    "q_dpp_join",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def q_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the join-driven analogue of static
    partition pruning and a headline 100 TB mechanism: the fact table
    is stored hive-partitioned by event_type, the dim side carries the
    selective filter, and Catalyst injects the dim's key set into the
    fact SCAN as a runtime subquery so non-matching partitions are
    never read (dynamicpruning#… in the plan, asserted by
    tests/test_plans.py). At scale this is reading 2 of N partitions
    instead of the whole fact table."""
    ev = _t(spark, sf_dir, "events")
    base = os.path.join(scratch_dir("bdp_dpp_"), "events_part")
    ev.select("event_id", "event_type", "value").write.mode(
        "overwrite"
    ).partitionBy("event_type").parquet(base)
    fact = spark.read.parquet(base)
    dim = spark.createDataFrame(
        [("click", 1), ("purchase", 1)], "etype string, flag int"
    ).filter(F.col("flag") == 1)
    return (
        fact.join(dim, fact.event_type == dim.etype)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", "total_value"),
        )
    )


@register(
    "q_scan_csv_corrupt",
    oracle="""
    SELECT 'good' AS status, COUNT(*) AS n FROM customer
    UNION ALL
    SELECT 'corrupt', 2
    """,
)
def q_scan_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE corrupt-record handling on the CSV source — the CSV
    parser's quarantine path is distinct from JSON's (tokenization vs
    document parse): two malformed lines (wrong arity, unclosed quote)
    are appended to a valid header'd CSV dump; the schema'd read routes
    them to _corrupt_record instead of failing the scan, and the query
    accounts good vs quarantined rows. The oracle pins the invariant:
    every original row parses, exactly the injected lines quarantine."""
    customer = _t(spark, sf_dir, "customer")
    out = os.path.join(scratch_dir("bdp_csv_bad_"), "customer_csv")
    customer.write.mode("overwrite").option("header", True).csv(out)
    bad = os.path.join(out, "zz_corrupt.csv")
    with open(bad, "w") as fh:
        # header=True skips each FILE's first line — lead with a
        # sacrificial header so both malformed lines (arity mismatch,
        # unclosed quote) actually reach the parser.
        fh.write('hdr\nonly,three,cols\n"unclosed, quote,1,2,3,4,5,6\n')

    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        list(customer.schema.fields)
        + [StructField("_corrupt_record", StringType())]
    )
    # Same documented pattern as the JSON twin: Spark refuses scans
    # whose only referenced column is the corrupt-record column, so
    # cache the parsed result first.
    back = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
        .cache()
    )
    status = F.when(F.col("_corrupt_record").isNull(), "good").otherwise("corrupt")
    return back.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "q_scan_xml",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM events GROUP BY event_type
    """,
)
def q_scan_xml(spark, sf_dir):
    """XML source/sink roundtrip (Spark 4 built-in xml format — no
    external spark-xml jar): events written as <row> elements, read
    back with rowTag + an EXPLICIT schema (no inference scan), then
    aggregated — hash-matching the base-table oracle proves the text
    serialization round-trips ids and doubles exactly (Spark writes
    the shortest round-trip double rendering). The read is
    row-splittable like JSON-lines; at scale prefer columnar formats —
    this is the ingest-what-exists path for XML feeds."""
    import os

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = os.path.join(scratch_dir("bdp_xml_"), "events_xml")
    (
        ev.write.mode("overwrite")
        .option("rootTag", "events")
        .option("rowTag", "row")
        .format("xml")
        .save(out)
    )
    back = (
        spark.read.schema(ev.schema)
        .option("rowTag", "row")
        .format("xml")
        .load(out)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value", "total_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@register(
    "q_observe_metrics",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events WHERE value >= 100 GROUP BY event_type
    """,
)
def q_observe_metrics(spark, sf_dir):
    """The Observation API: pipeline accounting metrics (rows scanned,
    rows kept, value mass) collected DURING the one query pass — the
    zero-extra-scan alternative to running separate count() audits,
    which at 100 TB would double the I/O. The observed metrics ride the
    same job as the aggregate; tests/test_operators_unit.py asserts
    they equal independently-computed totals. The returned relation is
    the filtered aggregate, hash-checked as usual."""
    from pyspark.sql import Observation

    ev = _t(spark, sf_dir, "events")
    obs = Observation("ingest_audit")
    kept = ev.observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.sum(F.when(F.col("value") >= 100, 1).otherwise(0)).alias(
            "rows_kept"
        ),
    ).filter(F.col("value") >= 100)
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "total_value")
    )


@register(
    "q_metadata_columns",
    oracle="""
    SELECT 'events.parquet' AS file_name, COUNT(*) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM events
    """,
)
def q_metadata_columns(spark, sf_dir):
    """Hidden file-metadata columns (_metadata.file_name etc.): the
    built-in ingestion-lineage surface — per-source-file provenance
    without materializing paths into the data, the thing incremental
    loaders and quarantine triage key on. Grouping by the hidden
    column proves it resolves through the scan; the oracle states the
    expected single-file layout of the testdata table."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.col("_metadata.file_name").alias("file_name")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@register(
    "q_codec_tradeoff",
    oracle="""
    SELECT codec, CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS smaller_than_uncompressed
    FROM events, (VALUES ('snappy'), ('zstd')) c(codec)
    GROUP BY codec
    """,
)
def q_codec_tradeoff(spark, sf_dir):
    """Compression-codec audit — the storage decision that is worth
    petabytes at 100 TB: the same deterministic row layout (hash
    repartition + in-partition sort) is written as uncompressed, snappy
    and zstd parquet, read back through the hidden _metadata.file_size
    column (no filesystem calls — the audit is itself a Spark query),
    and each codec reports its exact row count plus a boolean pinning
    that it beats the uncompressed footprint. Parquet encoding is
    deterministic for a fixed layout+codec, so the booleans are stable
    hash-checked values; the absolute byte counts stay out of the
    output because they are version-dependent, not data-dependent.

    The three parquet copies live in a scratch dir that is removed in
    a ``finally`` before returning: the per-codec size aggregates are
    single rows, so they are materialized eagerly (control-plane-sized
    collect) and the returned DataFrame is a local relation with no
    dependency on the scratch files — repeated sweeps leak no disk."""
    import shutil

    ev = _t(spark, sf_dir, "events")
    base = ev.repartition(4, "user_id").sortWithinPartitions(
        "user_id", "event_id"
    )
    out = scratch_dir("bdp_codec_")
    stats: dict[str, tuple[int, int]] = {}
    try:
        for codec in ("uncompressed", "snappy", "zstd"):
            path = f"{out}/{codec}"
            base.write.mode("overwrite").option(
                "compression", codec
            ).parquet(path)
            back = spark.read.parquet(path).select(
                F.col("_metadata.file_path").alias("fp"),
                F.col("_metadata.file_size").alias("fs"),
            )
            per_file = back.groupBy("fp").agg(
                F.min("fs").alias("fs"), F.count(F.lit(1)).alias("n")
            )
            row = per_file.agg(
                F.sum("fs").alias("bytes"), F.sum("n").alias("n")
            ).collect()[0]  # one row per codec: control-plane-sized
            stats[codec] = (row["bytes"], row["n"])
    finally:
        shutil.rmtree(out, ignore_errors=True)
    u_bytes = stats["uncompressed"][0]
    rows = [
        (codec, stats[codec][1], stats[codec][0] < u_bytes)
        for codec in ("snappy", "zstd")
    ]
    return spark.createDataFrame(
        rows, "codec string, n_rows long, smaller_than_uncompressed boolean"
    )
