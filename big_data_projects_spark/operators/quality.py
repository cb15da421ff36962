"""Declarative data-quality expectations over a DataFrame.

A rule is (name, boolean Column) where the column is TRUE when the row
PASSES. `violations_summary` evaluates every rule in one pass (no
per-rule scans): each rule becomes a conditional count, and the
violations aggregate map-side. This is the validation gate a training-data pipeline runs
between ingestion and publication; rules are plain Catalyst expressions
so the whole check stays JVM-side and pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def violations_summary(
    df: DataFrame, rules: list[tuple[str, Column]]
) -> DataFrame:
    """One row per rule: (rule, n_violations, n_rows) — computed in a
    single scan; the per-rule counts are conditional aggregates, not
    separate jobs."""
    aggs = [
        F.count(F.when(~cond, 1)).alias(name) for name, cond in rules
    ] + [F.count(F.lit(1)).alias("__total")]
    row = df.agg(*aggs)
    pairs = []
    for name, _ in rules:
        pairs.append(
            row.select(
                F.lit(name).alias("rule"),
                F.col(name).alias("n_violations"),
                F.col("__total").alias("n_rows"),
            )
        )
    out = pairs[0]
    for p in pairs[1:]:
        out = out.unionByName(p)
    return out
