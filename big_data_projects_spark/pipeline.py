"""Flagship pipeline: the reference's songplays star-ETL re-expressed on
the driver testdata (SURVEY.md §7 phase 0).

Reference shape (transform-data.py): filter raw logs to page='NextSong'
→ UDF-convert ms-epoch ts → derive a calendar time dim → 4-way star
join (logs⋈time⋈artists⋈songs) → per-user level aggregates →
row_number surrogate key.

Testdata realization: filter `events` to event_type='click' → calendar
breakdown of ts (built-in, UTC) → star join events⋈customer⋈nation⋈
region on proper surrogate keys (the reference joined on non-unique
natural attributes — artist *name*, song *title* — an unbounded fan-out
hazard, SURVEY.md §4 anti-pattern 4) → grouped counts → surrogate key.

Scale notes: bounded dims (nation/region) carry broadcast hints; the
SF-scaling customer join is left to AQE (broadcast when it fits,
shuffle otherwise); the single groupBy is the only guaranteed shuffle;
the row_number runs over the already-aggregated (small) result, never
over raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_projects_spark.data import load_table
from big_data_projects_spark.functions.timestamps import with_calendar_cols
from big_data_projects_spark.operators.relational import (
    dsum,
    star_join,
    surrogate_key,
)


def songplays_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events×customer×nation×region star rollup with surrogate keys."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    listens = events.filter(F.col("event_type") == "click")
    listens = with_calendar_cols(listens, "ts")

    # Hint only the provably bounded dims (nation/region are constant-
    # cardinality); customer scales with the data, so AQE sizes that
    # join at runtime — broadcast when it fits, shuffle when it doesn't.
    joined = star_join(
        listens,
        [
            (customer, F.col("user_id") == F.col("c_custkey")),
            (F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")),
            (F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")),
        ],
    )

    rollup = joined.groupBy("r_name", "n_name", "c_mktsegment", "year", "month").agg(
        F.count(F.lit(1)).alias("n_listens"),
        dsum("value", "total_value"),
    )
    # Surrogate key over the small aggregated result — deterministic
    # consecutive numbering with a real ordering (vs. the reference's
    # order-by-constant bug, SURVEY.md §2.5).
    ordered = rollup.orderBy("r_name", "n_name", "c_mktsegment", "year", "month")
    return surrogate_key(
        ordered.withColumn(
            "__ord",
            F.concat_ws(
                "|", "r_name", "n_name", "c_mktsegment",
                F.col("year").cast("string"), F.col("month").cast("string"),
            ),
        ),
        name="num",
        order_by="__ord",
    ).drop("__ord")
