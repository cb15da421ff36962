"""Differential-oracle + plan tests for the scale-strategy queries
(queries_scale.py): moment statistics, salted join, bucketed co-located
join, schema'd JSON source."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_projects_spark.queries import REGISTRY
from tests.oracle_utils import compare_query, suite_queries
from conftest import restored_conf

NAMES = suite_queries("scale")


def test_all_registered():
    assert len(NAMES) == 6


@pytest.mark.parametrize("name", NAMES)
def test_oracle_match(spark, name):
    assert compare_query(spark, name) > 0


def test_bucketed_join_has_no_shuffle(spark):
    """With broadcast disabled (forcing the shuffle-join path a 100 TB
    fact⋈fact join would take), the bucket-aligned join must read both
    sides without an Exchange: the only exchange in the plan belongs to
    the final aggregation, not the join."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    with restored_conf(spark, key):
        spark.conf.set(key, "-1")
        df = REGISTRY["q_bucketed_join"].spark(spark, "/root/testdata/sf0.01")
        plan = df._jdf.queryExecution().executedPlan().toString()
        join_part = plan.split("HashAggregate")[-1]
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_part, "join inputs were shuffled"


def test_salted_join_matches_plain_join_exactly(spark):
    """Row-level (not just aggregate-level) equivalence of the salted
    join and the plain join, including duplicate fact keys."""
    from big_data_projects_spark.operators.relational import salted_join

    fact = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(100)], "id long, k long, v double"
    )
    dim = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (3, "unmatched")], "k2 long, tag string"
    )
    salted = salted_join(
        fact, dim, fact_key="k", dim_key="k2", fact_unique_col="id", n_salt=4
    ).select("id", "k", "v", "tag")
    plain = fact.join(dim, fact.k == dim.k2).select("id", "k", "v", "tag")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_stats_moments_match_builtin_estimates(spark):
    """The decimal power-sum moments should agree with Spark's built-in
    var_pop/corr to float tolerance (the built-ins are order-dependent
    in the last ulps, which is exactly why the query doesn't use them)."""
    q = REGISTRY["q_stats_moments"].spark(spark, "/root/testdata/sf0.01")
    got = {r["l_returnflag"]: r for r in q.collect()}
    ref = {
        r["l_returnflag"]: r
        for r in (
            spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
            .groupBy("l_returnflag")
            .agg(
                F.var_pop("l_quantity").alias("v"),
                F.corr("l_quantity", "l_extendedprice").alias("c"),
            )
            .collect()
        )
    }
    for flag, row in got.items():
        assert abs(row["var_pop_qty"] - ref[flag]["v"]) < 1e-6
        assert abs(row["corr_qty_price"] - ref[flag]["c"]) < 1e-6
