"""Timestamp / calendar functions (SURVEY.md §2.8 F1-F2).

Reference behavior being re-expressed:
- F1 ms-epoch → timestamp: the reference used
  ``udf(lambda x: datetime.fromtimestamp(float(x)/1000), TimestampType())``
  (transform-data.py:126-129). That is a Python-row UDF (serde per row,
  optimizer barrier) and silently uses the *local* timezone. Rebuilt as
  the built-in ``timestamp_millis`` on a UTC-pinned session.
- F2 calendar breakdown: day/month/year/hour/minute/second/week/weekday
  (transform-data.py:170-177) — identical built-ins.

Conventions (SURVEY.md §7 hard-parts #4): Spark ``weekofyear`` is
ISO-8601 (DuckDB ``week`` matches); Spark ``dayofweek`` is 1=Sunday
(DuckDB ``dayofweek`` is 0=Sunday, so oracles use ``dayofweek(ts)+1``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# name -> SQL template over ``{c}``; all cast to long so schemas line
# up with the (int64-producing) DuckDB oracle regardless of Spark's
# int32 returns.  SQL text, not Column chains: each Column call is a
# py4j round trip, and these are built per query.
CALENDAR_COLS = {
    "year": "CAST(year({c}) AS BIGINT)",
    "month": "CAST(month({c}) AS BIGINT)",
    "day": "CAST(dayofmonth({c}) AS BIGINT)",
    "hour": "CAST(hour({c}) AS BIGINT)",
    "minute": "CAST(minute({c}) AS BIGINT)",
    "second": "CAST(second({c}) AS BIGINT)",
    "week": "CAST(weekofyear({c}) AS BIGINT)",
    "weekday": "CAST(dayofweek({c}) AS BIGINT)",
}


def ts_from_epoch_ms(col: str) -> str:
    """SQL text: ms-epoch (string or numeric) column ``col`` →
    TimestampType, JVM-side.

    Replaces the reference's Python UDF (transform-data.py:128): same
    intent, no Python boundary, explicit UTC semantics.
    """
    return f"timestamp_millis(CAST(`{col}` AS BIGINT))"


def epoch_ms(col: Column | str) -> Column:
    """Timestamp → ms-epoch bigint (truncating, matches DuckDB epoch_ms).

    Accepts TIMESTAMP and TIMESTAMP_NTZ (parquet timestamps not marked
    UTC-adjusted arrive as NTZ); the cast interprets NTZ wall-clock in
    the session timezone, which is pinned to UTC where a caller's
    session enters the package (session.ensure_runtime_conf) — exactly
    the UTC-naive oracle convention.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_millis(c.cast("timestamp"))


def with_calendar_cols(df: DataFrame, ts_col: str) -> DataFrame:
    """Append the reference's full calendar breakdown of ``ts_col`` (one
    projection; the appended names must be new to ``df``)."""
    return df.selectExpr(
        "*",
        *(
            f"{sql.format(c=f'`{ts_col}`')} AS `{name}`"
            for name, sql in CALENDAR_COLS.items()
        ),
    )
