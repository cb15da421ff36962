"""What the package leaves in a caller's session and process: scratch
directories live under one per-process root that is gone once the
process exits, a raw builder runs under the caller's conf (only entry
points pin it), and a builder does not flip session confs to get the
plan it wants."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from big_data_projects_spark.queries import REGISTRY
from conftest import REPO, SF_SMALL

UDTF_ARROW = "spark.sql.execution.pythonUDTF.arrow.enabled"
BROADCAST = "spark.sql.autoBroadcastJoinThreshold"


def test_process_exit_leaves_no_scratch_dirs(tmp_path):
    script = textwrap.dedent(f"""
        from big_data_projects_spark.queries import REGISTRY
        from big_data_projects_spark.session import get_spark

        spark = get_spark(app_name="bdp-scratch-test", cpus=2)
        for name in ("q_sink_parquet_partitioned", "q_bucketed_join",
                     "q_stream_fuzzy_dedup"):
            REGISTRY[name].spark(spark, {SF_SMALL!r}).collect()
    """)
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join([str(REPO), os.environ.get("PYTHONPATH", "")]))
    done = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-3000:]
    assert [e for e in os.listdir(tmp_path) if e.startswith("bdp_")] == []


def test_raw_builder_runs_under_the_callers_conf(spark):
    before = spark.conf.get(BROADCAST)
    try:
        spark.conf.set(BROADCAST, "-1")
        REGISTRY["q_tpch_q1"].raw(spark, SF_SMALL)
        assert spark.conf.get(BROADCAST) == "-1"
    finally:
        spark.conf.set(BROADCAST, before)


def test_udtf_runs_on_arrow_without_setting_the_session_conf(spark):
    before = spark.conf.get(UDTF_ARROW)
    try:
        spark.conf.set(UDTF_ARROW, "false")
        df = REGISTRY["q_udtf_spans"].spark(spark, SF_SMALL)
        assert spark.conf.get(UDTF_ARROW) == "false"
        assert "ArrowEvalPythonUDTF" in df._jdf.queryExecution().executedPlan().toString()
        assert df.count() > 0
    finally:
        spark.conf.set(UDTF_ARROW, before)
