"""SQL entry-point API surfaces beyond a plain ``spark.sql(string)``.

The reference's only SQL entry is a raw query string over temp views
(SURVEY.md §3.2, covered by q_sql_entry_report). Spark's public API has
three further SQL front doors a production pipeline uses — parameterized
queries (injection-safe templating), session variables (control-plane
scalars threaded between statements), and SQL scripting (BEGIN…END
control flow) — plus the pandas API on Spark for dataframe-native
callers. Each gets a query here with a DuckDB oracle twin stating the
same relation in plain SQL, so the *entry point* is the thing under
test, not new operator semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_projects_spark.data import load_table as _t
from big_data_projects_spark.registry import register


@register(
    "q_parameterized_sql",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM events
    WHERE value >= 10.0 AND event_type <> 'error'
    GROUP BY event_type
    """,
)
def q_parameterized_sql(spark, sf_dir):
    """Named-parameter-marker SQL (spark.sql(query, args={...})): the
    literal-free, injection-safe templating entry point. Parameters
    bind as typed literals BEFORE analysis, so Catalyst constant-folds
    and pushes them down exactly like hand-inlined literals — the plan
    is identical to the static query at any scale, which is the whole
    point: templating costs nothing at 100 TB. The oracle states the
    same query with the literals inlined."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_param_v")
    return spark.sql(
        """
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
        FROM events_param_v
        WHERE value >= :min_value AND event_type <> :excluded
        GROUP BY event_type
        """,
        args={"min_value": 10.0, "excluded": "error"},
    )


@register(
    "q_sql_variables",
    oracle="""
    WITH stats AS (
        SELECT CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*) AS avg_v
        FROM events
    )
    SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS n_above,
           MIN(s.avg_v) AS threshold
    FROM events e CROSS JOIN stats s
    WHERE e.value > s.avg_v
    GROUP BY e.user_id
    """,
)
def q_sql_variables(spark, sf_dir):
    """SQL session variables (DECLARE / SET VARIABLE): a control-plane
    scalar — the global mean value — computed once, stored in a session
    variable, and referenced by the next statement. This is the SQL-
    native form of the broadcast-a-tiny-aggregate pattern: the variable
    is bound to a constant before the big query plans, so the per-row
    comparison is a folded literal, not a join. Exact decimal mean, so
    the threshold double is bit-identical to the oracle's CTE twin."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_var_v")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE bdp_avg_value DOUBLE DEFAULT 0.0"
    )
    spark.sql(
        """
        SET VARIABLE bdp_avg_value = (
            SELECT CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                     / COUNT(*)
            FROM events_var_v
        )
        """
    )
    return spark.sql(
        """
        SELECT user_id, COUNT(*) AS n_above,
               MIN(bdp_avg_value) AS threshold
        FROM events_var_v
        WHERE value > bdp_avg_value
        GROUP BY user_id
        """
    )


@register(
    "q_sql_scripting",
    oracle="""
    SELECT CAST(SUM(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
                AS BIGINT) AS pass_200,
           CAST(SUM(CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END)
                AS BIGINT) AS pass_400,
           CAST(SUM(CASE WHEN n_chars >= 800 THEN 1 ELSE 0 END)
                AS BIGINT) AS pass_800
    FROM documents
    """,
)
def q_sql_scripting(spark, sf_dir):
    """SQL scripting (Spark 4 BEGIN…END): procedural control flow —
    local variables, a WHILE loop over escalating length thresholds,
    one aggregate query per iteration — entirely inside the SQL
    surface, the shape migration scripts and quality-gate runbooks
    take. Each loop iteration is an independent Catalyst-planned
    query; the script only carries scalars between them, so nothing
    here fights the optimizer at scale. The oracle states the three
    threshold counts as one conditional aggregate."""
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents_script_v")
    return spark.sql(
        """
        BEGIN
          DECLARE thr INT DEFAULT 200;
          DECLARE c200 BIGINT DEFAULT 0;
          DECLARE c400 BIGINT DEFAULT 0;
          DECLARE c800 BIGINT DEFAULT 0;
          DECLARE cur BIGINT DEFAULT 0;
          WHILE thr <= 800 DO
            SET cur = (SELECT COUNT(*) FROM documents_script_v
                       WHERE n_chars >= thr);
            IF thr = 200 THEN SET c200 = cur;
            ELSEIF thr = 400 THEN SET c400 = cur;
            ELSE SET c800 = cur;
            END IF;
            SET thr = thr * 2;
          END WHILE;
          SELECT c200 AS pass_200, c400 AS pass_400, c800 AS pass_800;
        END
        """
    )


@register(
    "q_pandas_api_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events GROUP BY event_type
    """,
)
def q_pandas_api_rollup(spark, sf_dir):
    """pandas API on Spark (pyspark.pandas): the dataframe-native entry
    point for pandas-fluent callers. The groupby-sum runs as ordinary
    distributed Spark aggregation under the hood (no data leaves the
    JVM; .pandas_api() is a lazy wrapper, not a toPandas collect) and
    converts back with to_spark(). Summed in exact integer cents so the
    result is order-independent and hash-matches; the count column
    proves the wrapper kept every row."""
    ev = _t(spark, sf_dir, "events")
    narrow = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    psdf = narrow.pandas_api()
    g = psdf.groupby("event_type", as_index=False).agg(
        n=("cents", "count"), total_cents=("cents", "sum")
    )
    out = g.to_spark()
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("total_cents").cast("long").alias("total_cents"),
    )


@register(
    "q_sql_udf",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                AS BIGINT) AS n_tokens,
           CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                AS DOUBLE) / (n_chars + 1) AS density,
           CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                AS DOUBLE) / (n_chars + 1) > 0.1 AS keep
    FROM documents
    """,
)
def q_sql_udf(spark, sf_dir):
    """SQL-defined scalar UDF (Spark 4 CREATE FUNCTION ... RETURN
    <expr>): the reusable-expression registry that replaces Python UDFs
    for pure-SQL logic. The function body is inlined by Catalyst at
    analysis time — the plan is identical to hand-inlining the
    expression (whole-stage codegen, pushdown intact), so unlike a
    Python UDF it costs NOTHING at 100 TB while still giving pipelines
    one shared definition. The oracle states the inlined expression,
    which is exactly what the optimizer sees."""
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents_udf_v")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION bdp_token_density(
            toks BIGINT, chars BIGINT) RETURNS DOUBLE
        RETURN CAST(toks AS DOUBLE) / (chars + 1)
        """
    )
    return spark.sql(
        r"""
        SELECT doc_id,
               size(split(trim(lower(text)), '\\s+')) :: BIGINT
                 AS n_tokens,
               bdp_token_density(
                   size(split(trim(lower(text)), '\\s+')), n_chars)
                 AS density,
               bdp_token_density(
                   size(split(trim(lower(text)), '\\s+')), n_chars) > 0.1
                 AS keep
        FROM documents_udf_v
        """
    )


@register(
    "q_sql_pipe",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM events
    WHERE value > 0.0
    GROUP BY event_type
    HAVING COUNT(*) >= 10
    ORDER BY n DESC, event_type
    """,
)
def q_sql_pipe(spark, sf_dir):
    """Spark 4 SQL pipe syntax (|> operators — SIGMOD'24 'SQL Has
    Problems' composable-query design): the linear FROM → WHERE →
    AGGREGATE → WHERE → ORDER BY pipeline form. Pipe operators
    desugar to the identical logical plan as nested ANSI SQL (the
    oracle states the same relation in classic form), so adopting the
    readable syntax costs nothing at any scale — this query pins that
    the entry point parses, binds, and optimizes like the classic
    one."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_pipe_v")
    return spark.sql(
        """
        FROM events_pipe_v
        |> WHERE value > 0.0
        |> AGGREGATE COUNT(*) AS n,
                     COUNT(DISTINCT user_id) AS n_users,
                     CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                       AS total
           GROUP BY event_type
        |> WHERE n >= 10
        |> ORDER BY n DESC, event_type
        """
    )
