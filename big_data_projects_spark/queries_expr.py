"""Expression-family coverage: JSON, arrays/explode, grouping sets,
date arithmetic, string functions, non-equi range joins, analytic
window distributions, ordered-arg aggregates.

The reference's scalar surface is one timestamp UDF + calendar
extractors + one concat (SURVEY.md §2.8); everything here is the
additional expression machinery a general engine needs, each family
exercised end-to-end against a DuckDB oracle. All expressions are
Catalyst built-ins (JVM codegen, no Python UDFs anywhere).
"""

from __future__ import annotations

from typing import Iterator  # noqa: F401  (resolved by pandas_udf hints)

import pandas as pd  # module-level so Iterator-UDF type hints resolve

from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_projects_spark.data import load_table as _t
from big_data_projects_spark.functions.timestamps import epoch_ms
from big_data_projects_spark.operators.relational import dsum
from big_data_projects_spark.registry import register


# ---------------------------------------------------------------------------
# Semi-structured: JSON extraction (events.props is a JSON string)
# ---------------------------------------------------------------------------

@register(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           COUNT(json_extract_string(props, '$.k')) AS k_present
    FROM events
    GROUP BY event_type
    """,
)
def q_json_extract(spark, sf_dir):
    """JSON path extraction from a string column with a typed cast and
    aggregation. get_json_object is a Catalyst built-in (no UDF); at
    scale prefer from_json with an explicit schema once per column —
    both stay JVM-side."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"), F.count(k).alias("k_present")
    )


# ---------------------------------------------------------------------------
# Generators: explode / lateral view (corpus term frequency)
# ---------------------------------------------------------------------------

@register(
    "q_explode_terms",
    oracle="""
    SELECT term, COUNT(*) AS n
    FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
          FROM documents)
    WHERE length(term) >= 4
    GROUP BY term
    ORDER BY n DESC, term
    LIMIT 25
    """,
)
def q_explode_terms(spark, sf_dir):
    """Row generator: split → explode → re-aggregate (the word-count
    shape). The explode happens map-side (no shuffle until the term
    groupBy, which partially aggregates before exchanging)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
        )
        .filter(F.length("term") >= 4)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Grouping sets (generalizes the existing rollup/cube coverage)
# ---------------------------------------------------------------------------

@register(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (mixed granularities in one pass; Spark
    expands to a single expand+aggregate — one shuffle total)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "qty"))
    )


# ---------------------------------------------------------------------------
# Date/time arithmetic beyond calendar extraction
# ---------------------------------------------------------------------------

@register(
    "q_date_arith",
    oracle="""
    SELECT o_orderkey,
           epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           CAST(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS VARCHAR)
               AS plus3mo,
           date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since,
           quarter(o_orderdate) AS qtr
    FROM orders
    """,
)
def q_date_arith(spark, sf_dir):
    """Date arithmetic: truncation, month-end clamping (add_months and
    last_day both clamp, matching DuckDB interval semantics), day
    difference, quarter."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        epoch_ms(F.date_trunc("month", "o_orderdate")).alias("month_start_ms"),
        F.last_day("o_orderdate").cast("string").alias("month_end"),
        F.add_months("o_orderdate", 3).cast("string").alias("plus3mo"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
        ).alias("days_since"),
        F.quarter("o_orderdate").alias("qtr"),
    )


# ---------------------------------------------------------------------------
# String function family
# ---------------------------------------------------------------------------

@register(
    "q_string_funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substring(c_name, 1, 8) AS name_prefix,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
           regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
           length(c_name) AS name_len,
           reverse(c_mktsegment) AS seg_rev,
           replace(c_mktsegment, 'A', '@') AS seg_sub
    FROM customer
    """,
)
def q_string_funcs(spark, sf_dir):
    """String expression family — all Catalyst built-ins evaluated in
    whole-stage codegen (upper/substring/lpad/regexp_replace/length/
    reverse/replace)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("name_masked"),
        F.length("c_name").alias("name_len"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.replace(F.col("c_mktsegment"), F.lit("A"), F.lit("@")).alias("seg_sub"),
    )


# ---------------------------------------------------------------------------
# Non-equi range join (band/bucket join)
# ---------------------------------------------------------------------------

_BUCKETS = [
    ("micro", 0.0, 10.0),
    ("small", 10.0, 50.0),
    ("medium", 50.0, 150.0),
    ("large", 150.0, 300.0),
    ("huge", 300.0, 1000.0),
]


@register(
    "q_range_join",
    oracle="""
    SELECT b.name AS bucket, COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM events e
    JOIN (VALUES ('micro',0.0,10.0),('small',10.0,50.0),('medium',50.0,150.0),
                 ('large',150.0,300.0),('huge',300.0,1000.0)) b(name, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.name
    """,
)
def q_range_join(spark, sf_dir):
    """Non-equi (range/band) join: fact values against bucket bounds.
    The bucket dim is broadcast, so the non-equi condition is evaluated
    as a BroadcastNestedLoopJoin over 5 rows — no shuffle, no cartesian
    blow-up. At 100 TB the same shape holds for any small band table."""
    ev = _t(spark, sf_dir, "events")
    buckets = ev.sparkSession.createDataFrame(_BUCKETS, ["name", "lo", "hi"])
    return (
        ev.join(
            F.broadcast(buckets),
            (ev.value >= buckets.lo) & (ev.value < buckets.hi),
        )
        .groupBy(F.col("name").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total"))
    )


# ---------------------------------------------------------------------------
# Analytic distribution windows
# ---------------------------------------------------------------------------

@register(
    "q_ntile_cume",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           ntile(4)       OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cum_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_ntile_cume(spark, sf_dir):
    """Distribution window functions (ntile / percent_rank / cume_dist)
    partitioned by status — per-partition sorts only, no global order.
    Deterministic tiebreak on the unique order key."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
    )


# ---------------------------------------------------------------------------
# Array/list operations over the embeddings table
# ---------------------------------------------------------------------------

@register(
    "q_array_ops",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_elem,
           list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS vec_sum,
           CAST(list_max(embedding) AS DOUBLE) AS vec_max
    FROM embeddings
    """,
)
def q_array_ops(spark, sf_dir):
    """Array expression family: size / element_at / fold-sum /
    array_max, all JVM-side (F.aggregate is a codegen'd lambda fold —
    the scale path for per-row vector math without Python). Elements
    are cast float→double *before* summing on both sides so the
    sequential fold is bit-identical."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_elem"),
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("vec_sum"),
        F.array_max("embedding").cast("double").alias("vec_max"),
    )


# ---------------------------------------------------------------------------
# Ordered-argument aggregates (max_by with deterministic tiebreak)
# ---------------------------------------------------------------------------

@register(
    "q_max_by",
    oracle="""
    SELECT event_type,
           (max(struct_pack(v := value, id := event_id))).id AS top_event_id,
           CAST((max(struct_pack(v := value, id := event_id))).v AS DOUBLE)
               AS top_value,
           (min(struct_pack(v := value, id := event_id))).id AS bottom_event_id
    FROM events
    GROUP BY event_type
    """,
)
def q_max_by(spark, sf_dir):
    """arg-max/arg-min via lexicographic struct min/max — the
    tie-deterministic form of max_by (plain max_by/arg_max leaves ties
    unspecified on both engines; packing the tiebreak key into the
    comparison struct pins them). Single hash aggregate, no window."""
    ev = _t(spark, sf_dir, "events")
    s = F.struct(F.col("value").alias("v"), F.col("event_id").alias("id"))
    return ev.groupBy("event_type").agg(
        F.max(s)["id"].alias("top_event_id"),
        F.max(s)["v"].cast("double").alias("top_value"),
        F.min(s)["id"].alias("bottom_event_id"),
    )


@register(
    "q_map_ops",
    oracle="""
    SELECT 'k' AS key, COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS total
    FROM events
    """,
)
def q_map_ops(spark, sf_dir):
    """MapType end-to-end: the JSON props column parses into
    map<string,long>, explodes to (key, value) rows, and aggregates per
    key — the map-typed path (map_keys/map_values/explode) the flat
    reference schema never touches. Integer sums are exact on both
    engines."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        F.from_json("props", "map<string,bigint>").alias("m")
    )
    kv = parsed.select(F.explode("m").alias("key", "value"))
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
    )


@register(
    "q_edit_distance",
    oracle="""
    WITH d AS (
        SELECT doc_id, source, n_chars // 50 AS len_bucket,
               substr(text, 1, 80) AS head
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
    FROM d a JOIN d b
      ON a.source = b.source AND a.len_bucket = b.len_bucket
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 55
    """,
)
def q_edit_distance(spark, sf_dir):
    """Blocked edit-distance pairing: candidate pairs come from an
    equi-join on a block key (source, length bucket) — never an
    unblocked quadratic cross join — then Levenshtein distance on a
    fixed-length prefix filters near-matches. levenshtein() is unit-
    cost edit distance in both engines, so the ints agree exactly.
    Blocking is the same scale discipline as LSH banding: at 100 TB
    the pair count is sum of per-block squares, tunable via block
    granularity, not corpus-squared."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.expr("n_chars div 50").alias("len_bucket"),
        F.substring("text", 1, 80).alias("head"),
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        "source",
        "len_bucket",
        F.col("head").alias("head_a"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        "source",
        "len_bucket",
        F.col("head").alias("head_b"),
    )
    dist = F.levenshtein("head_a", "head_b")
    return (
        a.join(b, ["source", "len_bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(dist <= 55)
        .select("doc_a", "doc_b", dist.cast("long").alias("edit_dist"))
    )


@register(
    "q_try_arith",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           CASE WHEN CAST(event_id % 5 AS BIGINT) = 0 THEN NULL
                ELSE value / (event_id % 5) END AS safe_ratio,
           COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT), -1)
               AS k_or_default
    FROM events
    """,
)
def q_try_arith(spark, sf_dir):
    """Error-safe expression family: try_cast turns malformed input
    into NULL instead of a task failure (the difference between a
    100 TB job surviving one bad row and dying at hour three), and
    division guards against zero denominators NULL-safely. Under ANSI
    SQL mode (Spark 4 default) the non-try variants would throw —
    try_* is the scale-safe idiom."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("long")
    denom = F.col("event_id") % 5
    return ev.select(
        "event_id",
        k.alias("k_int"),
        F.when(denom == 0, None).otherwise(F.col("value") / denom).alias(
            "safe_ratio"
        ),
        F.coalesce(k, F.lit(-1)).alias("k_or_default"),
    )


@register(
    "q_variant_json",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY 1
    """,
)
def q_variant_json(spark, sf_dir):
    """Semi-structured VARIANT type (Spark 4): props parses ONCE into
    a binary-encoded variant; every later field access is a cheap
    typed path lookup instead of re-running a JSON string parser per
    extraction — at 100 TB the difference between one parse and one
    parse per accessed field. The oracle reads the same paths with
    DuckDB's JSON extraction."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(F.parse_json("props").alias("v"))
    k = F.variant_get("v", "$.k", "long")
    return v.select((k % 10).alias("k_bucket"), k.alias("k")).groupBy(
        "k_bucket"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT measure, COUNT(*) AS n,
           CAST(SUM(CAST(val AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM (
        SELECT 'quantity' AS measure, l_quantity AS val FROM lineitem
        UNION ALL SELECT 'discount', l_discount FROM lineitem
        UNION ALL SELECT 'tax', l_tax FROM lineitem
    )
    GROUP BY measure
    """,
)
def q_unpivot(spark, sf_dir):
    """UNPIVOT / melt — the inverse of q_pivot: wide per-row measures
    become (measure, value) pairs, then a per-measure aggregate.
    Spark's unpivot is a zero-shuffle row-local expansion (rows out =
    rows × measures); the only shuffle is the final bounded-key
    aggregate. The oracle spells it as UNION ALL, which is what the
    operator desugars to relationally."""
    li = _t(spark, sf_dir, "lineitem")
    melted = li.unpivot(
        ids=[],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    ).withColumn(
        "measure",
        F.expr(
            "CASE measure WHEN 'l_quantity' THEN 'quantity' "
            "WHEN 'l_discount' THEN 'discount' ELSE 'tax' END"
        ),
    )
    return melted.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"), dsum("val", "total")
    )


@register(
    "q_lateral_topn",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n, LATERAL (
        SELECT c_name, c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) t
    """,
)
def q_lateral_topn(spark, sf_dir):
    """Correlated LATERAL subquery (SQL-string path): per nation, the
    top-2 customers by balance. Catalyst decorrelates this into the
    same join+partitioned-rank plan as q_top_k_per_group — proving the
    two surfaces (LATERAL SQL and the Window DataFrame idiom) converge
    on one scalable physical shape rather than a per-row re-execution
    of the inner query."""
    for t in ("nation", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n, LATERAL (
            SELECT c_name, c_acctbal FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name LIMIT 2
        ) t
        """
    )


_UDTF_SPAN = 16


@register(
    "q_udtf_spans",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    )
    SELECT doc_id, CAST(i AS INT) AS span_id,
           array_to_string(t[(i*{_UDTF_SPAN}+1):(i*{_UDTF_SPAN}+{_UDTF_SPAN})], ' ')
             AS span_text,
           CAST(least({_UDTF_SPAN}, len(t) - i*{_UDTF_SPAN}) AS INT) AS n_toks
    FROM toks,
         UNNEST(generate_series(0, CAST(ceil(len(t)/{_UDTF_SPAN}.0) AS BIGINT) - 1))
           AS u(i)
    """,
)
def q_udtf_spans(spark, sf_dir):
    """Python UDTF surface (SURVEY.md §2.10; Spark 4 user-defined TABLE
    function): a ``@udtf`` class invoked via SQL ``LATERAL`` splits each
    document into fixed 16-token spans, one output row per span — the
    one-row-in/N-rows-out shape (tokenizers, parsers, samplers) that
    scalar UDFs can't express. Arrow-batched execution is asked for on
    the UDTF itself (``useArrow=True``), so the session's
    ``spark.sql.execution.pythonUDTF.arrow.enabled`` is left as the
    caller set it; the identical
    relation is also expressible with built-in sequence+explode
    (q_doc_chunking) — that stays the hot path, this pins the API.

    Scale shape: per-row independent lateral expansion — embarrassingly
    parallel, no shuffle; Python cost is bounded by Arrow batching."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="span_id int, span_text string, n_toks int", useArrow=True)
    class SpanUDTF:
        def eval(self, text: str):
            toks = text.strip().lower().split()
            for i in range(0, len(toks), _UDTF_SPAN):
                chunk = toks[i : i + _UDTF_SPAN]
                yield (i // _UDTF_SPAN, " ".join(chunk), len(chunk))

    spark.udtf.register("bdp_spans", SpanUDTF)
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("bdp_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.span_id, s.span_text, s.n_toks
        FROM bdp_udtf_docs d, LATERAL bdp_spans(d.text) s
        """
    )


# ---------------------------------------------------------------------------
# Higher-order array lambdas (filter/forall/sort/position — the array
# functional surface; transform/aggregate folds are exercised by the
# similarity and gopher operators)
# ---------------------------------------------------------------------------

@register(
    "q_higher_order_funcs",
    oracle=r"""
    WITH s AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(t, w -> len(w) > 4)) AS BIGINT) AS n_long,
           len(list_filter(t, w -> len(w) > 0)) = len(t) AS all_nonempty,
           list_sort(t)[1] AS first_sorted,
           CAST(list_max(list_transform(t, w -> len(w))) AS BIGINT)
               AS max_word_len,
           CAST(COALESCE(list_position(t, 'the'), 0) AS BIGINT) AS the_pos
    FROM s
    """,
)
def q_higher_order_funcs(spark, sf_dir):
    """Higher-order array lambdas, all JVM-codegen (no UDFs): filter,
    forall, array_sort, transform+array_max, array_position. Per-row
    array work — zero shuffle, embarrassingly parallel; the lambda
    surface is what lets array pipelines stay out of Python."""
    docs = _t(spark, sf_dir, "documents")
    from big_data_projects_spark.operators.text import tokens

    base = docs.select("doc_id", tokens("text").alias("t"))
    return base.select(
        "doc_id",
        F.size(F.filter("t", lambda w: F.length(w) > 4)).cast("long").alias("n_long"),
        F.forall("t", lambda w: F.length(w) > 0).alias("all_nonempty"),
        F.array_sort("t").getItem(0).alias("first_sorted"),
        F.array_max(F.transform("t", F.length)).cast("long").alias("max_word_len"),
        F.array_position("t", "the").cast("long").alias("the_pos"),
    )


# ---------------------------------------------------------------------------
# Regex family (extract_all / global replace / match) — patterns kept in
# the Java∩RE2 common subset so both engines compile them identically
# ---------------------------------------------------------------------------

@register(
    "q_regex_extract_all",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\b[a-z]{5}\b')) AS BIGINT)
               AS n_5letter,
           md5(regexp_replace(text, '[aeiou]', '', 'g')) AS devoweled_md5,
           regexp_matches(text, '(^| )table( |$)') AS mentions_table
    FROM documents
    """,
)
def q_regex_extract_all(spark, sf_dir):
    """Regex expression family: extract-all match counting, global
    character-class replacement (md5-compressed so the oracle compares
    content not payload), and boolean pattern match. All codegen'd
    Java regex; patterns stay in the Java∩RE2-portable subset
    (same discipline as the BPE pre-tokenizer)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\b[a-z]{5}\b"), F.lit(0)))
        .cast("long")
        .alias("n_5letter"),
        F.md5(F.regexp_replace("text", "[aeiou]", "")).alias("devoweled_md5"),
        F.col("text").rlike("(^| )table( |$)").alias("mentions_table"),
    )


# ---------------------------------------------------------------------------
# XML ingestion (Spark 4 built-in from_xml)
# ---------------------------------------------------------------------------

@register(
    "q_xml_extract",
    oracle="""
    SELECT event_id, event_type AS t, CAST(user_id AS BIGINT) AS u
    FROM events
    """,
)
def q_xml_extract(spark, sf_dir):
    """XML ingestion via Spark 4's built-in from_xml: an XML payload is
    synthesized per event and parsed back through the schema'd XML
    reader; the oracle states the expected roundtrip directly, so a
    parser/schema regression (element order, type coercion, nesting)
    breaks the hash match. Codegen expression — no external XML lib."""
    ev = _t(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<e><t>"), F.col("event_type"),
        F.lit("</t><u>"), F.col("user_id").cast("string"),
        F.lit("</u></e>"),
    )
    parsed = F.from_xml(xml, "t STRING, u BIGINT")
    return ev.select(
        "event_id",
        parsed.getField("t").alias("t"),
        parsed.getField("u").alias("u"),
    )


# ---------------------------------------------------------------------------
# NULL / boolean aggregate semantics
# ---------------------------------------------------------------------------

@register(
    "q_null_semantics",
    oracle="""
    SELECT l_returnflag,
           CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_big_disc,
           bool_or(l_tax = 0) AS any_zero_tax,
           bool_and(l_quantity > 0) AS all_pos_qty,
           CAST(COUNT(*) - COUNT(NULLIF(l_discount, 0.0)) AS BIGINT)
               AS n_zero_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_null_semantics(spark, sf_dir):
    """Boolean/NULL aggregate semantics: count_if, bool_or/bool_and
    (three-valued logic folded per group), and NULLIF-manufactured
    NULLs flowing through COUNT's null-skipping — the SQL-null
    contract an engine must get right before any of its aggregates
    can be trusted."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_big_disc"),
        F.bool_or(F.col("l_tax") == 0).alias("any_zero_tax"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_pos_qty"),
        (
            F.count(F.lit(1)) - F.count(F.nullif(F.col("l_discount"), F.lit(0.0)))
        ).alias("n_zero_disc"),
    )


# ---------------------------------------------------------------------------
# Map lambdas (transform_values / map_filter / map_concat / map_keys)
# ---------------------------------------------------------------------------

@register(
    "q_map_lambdas",
    oracle="""
    SELECT event_id,
           CAST(3 AS INT) AS n_keys,
           2 * CAST(json_extract_string(props, '$.k') AS BIGINT) AS k2,
           'k,src,type' AS keys_csv,
           upper(event_type) AS type_upper
    FROM events
    """,
)
def q_map_lambdas(spark, sf_dir):
    """MapType lambda surface, all codegen: a per-row map is built from
    typed columns (create_map + JSON path), values rewritten with a
    key-aware transform_values, a key dropped with map_filter, a
    constant entry merged with map_concat, and the result projected
    through map_keys/element_at. The oracle restates every output from
    the source columns directly — so the lambda semantics themselves
    (key-conditional rewrite, filter, merge precedence) are what is
    being checked."""
    ev = _t(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("k"), F.get_json_object("props", "$.k"),
        F.lit("type"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
    )
    doubled = F.transform_values(
        m,
        lambda k, v: F.when(k == "k", (v.cast("long") * 2).cast("string"))
        .otherwise(F.upper(v)),
    )
    flt = F.map_filter(doubled, lambda k, v: k != "uid")
    merged = F.map_concat(flt, F.create_map(F.lit("src"), F.lit("EVENTS")))
    return ev.select(
        "event_id",
        F.size(merged).alias("n_keys"),
        F.element_at(merged, "k").cast("long").alias("k2"),
        F.concat_ws(",", F.array_sort(F.map_keys(merged))).alias("keys_csv"),
        F.element_at(merged, "type").alias("type_upper"),
    )


@register(
    "q_generator_funcs",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents WHERE doc_id <= 100
    ),
    pos AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS word
        FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)
    ),
    pos_sum AS (
        SELECT 'posexplode' AS kind, CAST(pos // 25 AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT word) AS DOUBLE) AS val
        FROM pos GROUP BY 2
    ),
    stacked AS (
        SELECT 'size' AS metric, CAST(p_size AS DOUBLE) AS v FROM part
        UNION ALL SELECT 'retail', p_retailprice FROM part
    ),
    stack_sum AS (
        SELECT 'stack:' || metric AS kind, CAST(0 AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n,
               round(CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE), 6) AS val
        FROM stacked GROUP BY 1
    )
    SELECT * FROM pos_sum UNION ALL SELECT * FROM stack_sum
    """,
)
def q_generator_funcs(spark, sf_dir):
    """Row-generator surface: posexplode (explode WITH the element
    index — the ordinal explode UNNEST alone can't give you) over
    document token arrays, and stack (N,k1,v1,...) — the inline
    wide-to-long unpivot generator — over part metrics. Both are
    Catalyst Generate nodes: executor-local row expansion inside the
    scan stage, zero shuffle until the aggregates. The oracle restates
    posexplode as generate_series indexing and stack as a UNION ALL of
    constant-tagged selects; the per-position-bucket distinct-word
    profile checks the ORDINALS, not just the elements."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower("text")), r"\s+")).alias(
            "pos", "word"
        ),
    )
    pos_sum = pos.groupBy(
        F.expr("pos DIV 25").cast("long").alias("k")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("word").cast("double").alias("val"),
    ).select(F.lit("posexplode").alias("kind"), "k", "n", "val")
    part = _t(spark, sf_dir, "part")
    stacked = part.select(
        F.expr(
            "stack(2, 'size', CAST(p_size AS DOUBLE), "
            "'retail', p_retailprice) AS (metric, v)"
        )
    )
    stack_sum = stacked.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("v").cast("decimal(38,6)")).cast("double"), 6
        ).alias("val"),
    ).select(
        F.concat(F.lit("stack:"), F.col("metric")).alias("kind"),
        F.lit(0).cast("long").alias("k"), "n", "val",
    )
    return pos_sum.unionByName(stack_sum)


@register(
    "q_collation",
    oracle="""
    WITH c AS (
        SELECT lower(c_mktsegment) AS seg_ci, c_acctbal, c_custkey,
               c_mktsegment
        FROM customer
    )
    SELECT seg_ci,
           COUNT(*) AS n,
           COUNT(DISTINCT c_mktsegment) AS n_spellings,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
               AS total_bal
    FROM c GROUP BY seg_ci
    """,
)
def q_collation(spark, sf_dir):
    """Spark 4 string collations: grouping under UTF8_LCASE compares
    case-insensitively in the COLLATION itself (the engine-level
    feature SQL-standard engines expose), not by rewriting every
    expression with lower(). The group key is rendered back through
    lower() only for display so the oracle — DuckDB spells the same
    semantics with lower() — can hash-match; n_spellings counts the
    raw-case variants folded into each group (1 on this data: the
    check that collation grouping didn't merge what byte-equality
    would)."""
    cust = _t(spark, sf_dir, "customer")
    ci = F.expr("collate(c_mktsegment, 'UTF8_LCASE')")
    return (
        cust.groupBy(ci.alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.expr("collate(c_mktsegment, 'UTF8_BINARY')"))
            .alias("n_spellings"),
            dsum("c_acctbal", "total_bal"),
        )
        .select(
            F.lower(F.col("seg")).alias("seg_ci"), "n", "n_spellings",
            "total_bal",
        )
    )


@register(
    "q_scalar_iter_udf",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                AS BIGINT) AS n_toks
    FROM documents
    """,
)
def q_scalar_iter_udf(spark, sf_dir):
    """Iterator-of-Series pandas UDF (SURVEY.md §2.10): the
    amortized-initialization Python boundary — per-worker setup (here a
    compiled regex; in production a tokenizer or embedding model) runs
    ONCE per executor task, then every Arrow batch streams through the
    same generator. This is the sanctioned shape for model-inference
    columns at 100 TB: batch-granular Python, one model load per task
    instead of per row or per batch. The token count is exact integer
    work, so the Python path hash-matches the oracle's regexp split;
    the built-ins twin (q_token_stats) stays the hot path for logic SQL
    can express.

    Tokenization matches SQL semantics exactly: strip ONLY ASCII
    spaces (SQL ``trim`` strips spaces, not tabs/NBSP — Python
    ``str.strip()`` would strip all unicode whitespace) and split on
    the RE2 ``\\s`` class ``[ \\t\\n\\x0b\\f\\r]`` (Python ``\\s``
    would additionally match unicode whitespace like NBSP), so the
    Python path cannot diverge from the oracle on exotic whitespace."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def tok_count(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import re

        # amortized across all batches; RE2 \s class, NOT Python \s
        splitter = re.compile(r"[ \t\n\x0b\f\r]+")
        for s in batches:
            yield s.map(
                lambda t: len(splitter.split(t.strip(" ").lower()))
            ).astype("int64")

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", tok_count("text").alias("n_toks"))


@register(
    "q_map_in_arrow",
    oracle="""
    SELECT user_id,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id
    """,
)
def q_map_in_arrow(spark, sf_dir):
    """mapInArrow (SURVEY.md §2.10): the zero-copy RecordBatch-level
    Python boundary — below mapInPandas (no pandas conversion), for
    per-batch logic that wants raw Arrow arrays (tensor codecs, FFI
    libraries). Here each batch converts value→exact integer cents with
    pyarrow.compute kernels; Spark then aggregates the exact ints, so
    the Arrow hop is provably lossless. Per-batch independent → no
    shuffle until the final groupBy.

    Rounding mode matters: pyarrow's default is half_to_even (0.5→0,
    2.5→2), while DuckDB round() and Spark F.round round half AWAY
    from zero — on a .5 cents tie (e.g. value=12.125 → 1212.5) the
    default would silently diverge, so half_towards_infinity is passed
    explicitly to match."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def to_cents(batches):
        for batch in batches:
            cents = pc.cast(
                pc.round(
                    pc.multiply(batch.column(1), pa.scalar(100.0)),
                    round_mode="half_towards_infinity",
                ),
                pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), cents], ["user_id", "cents"]
            )

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    mapped = ev.mapInArrow(to_cents, "user_id long, cents long")
    return mapped.groupBy("user_id").agg(
        F.sum("cents").alias("total_cents"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_apply_in_arrow",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS min_cents,
           CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS max_cents,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events GROUP BY user_id
    """,
)
def q_apply_in_arrow(spark, sf_dir):
    """Grouped applyInArrow (SURVEY.md §2.10): the GROUPED-map Arrow
    boundary — one pyarrow Table per key, below applyInPandas (no
    pandas conversion), for per-group logic that wants columnar Arrow
    buffers (tensor assembly, FFI feature libraries). Completes the
    Python-boundary matrix: scalar (pandas_udf) / iterator
    (q_scalar_iter_udf) / per-batch RecordBatch (q_map_in_arrow) /
    per-group Table (this). Same exactness discipline as
    q_map_in_arrow: values become exact integer cents inside Arrow
    with half_towards_infinity rounding (pyarrow's half_to_even
    default would diverge from the oracle on .5 ties), so every
    aggregate is integer arithmetic and hash-matches. The grouped
    shuffle is the plan's only exchange; each group's Table is
    per-user-sized."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def per_user(t: pa.Table) -> pa.Table:
        cents = pc.cast(
            pc.round(
                pc.multiply(t.column("value"), pa.scalar(100.0)),
                round_mode="half_towards_infinity",
            ),
            pa.int64(),
        )
        return pa.Table.from_pylist(
            [
                {
                    "user_id": t.column("user_id")[0].as_py(),
                    "n": t.num_rows,
                    "min_cents": pc.min(cents).as_py(),
                    "max_cents": pc.max(cents).as_py(),
                    "total_cents": pc.sum(cents).as_py(),
                }
            ]
        )

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    return ev.groupBy("user_id").applyInArrow(
        per_user,
        "user_id long, n long, min_cents long, max_cents long,"
        " total_cents long",
    )
