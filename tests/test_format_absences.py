"""Mechanical documentation of the two environment-limited absences:
the assertions fail loudly the moment the environment gains the
capability, so the absence docs in SURVEY.md / queries_streaming.py
can never silently go stale."""

from __future__ import annotations

import pytest

from pyspark.errors import AnalysisException


def test_avro_source_is_absent_and_parquet_is_the_standin(spark):
    """spark-avro is an EXTERNAL jar (org.apache.spark:spark-avro) and
    installs are off-limits in this environment, so format('avro') must
    raise the find-the-package AnalysisException. The stand-in for
    schema'd row-oriented interchange is the built-in parquet path the
    whole suite exercises (plus q_scan_xml / q_sink_json_roundtrip for
    text-serialized interchange). If this test ever fails because avro
    LOADED, wire a real q_sink_avro_roundtrip and update SURVEY.md."""
    df = spark.range(3).selectExpr("id", "id * 2 AS v")
    with pytest.raises(AnalysisException, match="(?i)avro"):
        df.write.format("avro").save("/tmp/bdp_avro_probe")
    with pytest.raises(AnalysisException, match="(?i)avro"):
        spark.read.format("avro").load("/tmp/bdp_avro_probe").collect()


def test_transform_with_state_blocked_on_protobuf():
    """transformWithStateInPandas needs a working google.protobuf on
    the Python side; the container ships none and installs are
    off-limits (queries_streaming.py module docstring). The stateful
    streaming surface is covered by applyInPandasWithState instead.
    If protobuf ever appears, register the transformWithState twin."""
    with pytest.raises(ImportError):
        import google.protobuf  # noqa: F401
