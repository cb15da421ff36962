"""Results do not depend on the caller's session timezone: the registry
wrapper pins UTC through ``ensure_runtime_conf``, so timestamp queries
still match the UTC-naive DuckDB oracle on a session set to another
zone."""

from __future__ import annotations

import pytest

from tests.oracle_utils import compare_query

TZ_KEY = "spark.sql.session.timeZone"


@pytest.mark.parametrize("name", [
    "q_time_dim", "q_sessionize", "q_rolling_time_window",
    "q_gapfill_hourly", "q_date_arith",
])
def test_oracle_match_on_a_non_utc_session(spark, name):
    before = spark.conf.get(TZ_KEY)
    try:
        spark.conf.set(TZ_KEY, "America/New_York")
        compare_query(spark, name)
    finally:
        spark.conf.set(TZ_KEY, before)
