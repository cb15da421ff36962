"""What a registry builder leaves in the caller's session: shuffle
parallelism stays the session's own (``ensure_runtime_conf`` fills in
one partition per core only where the session never set a value), and
no streaming memory-sink view outlives the builder that drained it.
A conf the session rejects fails ``ensure_runtime_conf`` loudly."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from big_data_projects_spark.queries import REGISTRY
from big_data_projects_spark.session import ensure_runtime_conf
from conftest import SF_SMALL

KEY = "spark.sql.shuffle.partitions"


def test_builder_keeps_the_sessions_shuffle_partitions(spark):
    before = spark.conf.get(KEY)
    try:
        spark.conf.set(KEY, "7")
        REGISTRY["q_stream_dedup"].spark(spark, SF_SMALL)
        assert spark.conf.get(KEY) == "7"
    finally:
        spark.conf.set(KEY, before)


def test_unset_shuffle_partitions_become_one_per_core(spark):
    fresh = spark.newSession()
    fresh.conf.unset(KEY)  # no-op: the fixture's value is session-local, not in SparkConf
    assert fresh.conf.get(KEY) == "200"
    ensure_runtime_conf(fresh)
    assert fresh.conf.get(KEY) == str(spark.sparkContext.defaultParallelism)


def test_stream_builder_drops_its_memory_sink_view(spark):
    REGISTRY["q_stream_dedup"].spark(spark, SF_SMALL)
    left = [t.name for t in spark.catalog.listTables() if t.name.startswith("bdp_stream_")]
    assert left == []


def test_a_rejected_runtime_conf_raises():
    def reject(key, value):
        raise ValueError(f"cannot set {key}")

    with pytest.raises(ValueError, match="cannot set spark.sql.session.timeZone"):
        ensure_runtime_conf(SimpleNamespace(conf=SimpleNamespace(set=reject)))
