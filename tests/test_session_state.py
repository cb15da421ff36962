"""What the package leaves in a caller's session and process: scratch
directories live under one per-process root that is gone once the
process exits, a raw builder runs under the caller's conf (only entry
points pin it), and builders and loaders leave the session's conf as
they found it."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from big_data_projects_spark.data import load_table
from big_data_projects_spark.queries import REGISTRY
from conftest import REPO, SF_SMALL, conf_bytes, restored_conf

UDTF_ARROW = "spark.sql.execution.pythonUDTF.arrow.enabled"
BROADCAST = "spark.sql.autoBroadcastJoinThreshold"
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
BLOOM_KEYS = (
    BROADCAST,
    "spark.sql.optimizer.runtime.bloomFilter.enabled",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
)


def test_process_exit_leaves_no_scratch_dirs(tmp_path):
    # The repo is on the driver's sys.path only: q_custom_source's
    # Python data source runs in workers that get it from the pin.
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})

        from big_data_projects_spark.queries import REGISTRY
        from big_data_projects_spark.session import get_spark

        spark = get_spark(app_name="bdp-scratch-test", cpus=2)
        for name in ("q_sink_parquet_partitioned", "q_bucketed_join",
                     "q_stream_fuzzy_dedup", "q_custom_source"):
            REGISTRY[name].spark(spark, {SF_SMALL!r}).collect()
    """)
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    done = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-3000:]
    assert [e for e in os.listdir(tmp_path) if e.startswith("bdp_")] == []


def test_raw_builder_runs_under_the_callers_conf(spark):
    with restored_conf(spark, BROADCAST):
        spark.conf.set(BROADCAST, "-1")
        REGISTRY["q_tpch_q1"].raw(spark, SF_SMALL)
        assert conf_bytes(spark.conf.get(BROADCAST)) == -1


def test_udtf_runs_on_arrow_without_setting_the_session_conf(spark):
    with restored_conf(spark, UDTF_ARROW):
        spark.conf.set(UDTF_ARROW, "false")
        df = REGISTRY["q_udtf_spans"].spark(spark, SF_SMALL)
        assert spark.conf.get(UDTF_ARROW) == "false"
        assert "ArrowEvalPythonUDTF" in df._jdf.queryExecution().executedPlan().toString()
        assert df.count() > 0


def test_builder_and_loader_leave_the_conf_as_they_found_it(spark):
    # Read with a None default: an unset key reads None, so a builder
    # that restored it by setting its default would fail here.
    with restored_conf(spark, *BLOOM_KEYS, NANOS_AS_LONG) as before:
        df = REGISTRY["q_bloom_filter_join"].raw(spark, SF_SMALL)
        assert {k: spark.conf.get(k, None) for k in before} == before
        assert "might_contain" in df._jdf.queryExecution().optimizedPlan().toString()
        spark.conf.set(NANOS_AS_LONG, "false")
        load_table(spark, SF_SMALL, "events")
        assert spark.conf.get(NANOS_AS_LONG) == "false"
