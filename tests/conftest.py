from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from big_data_projects_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # The broadcast threshold is set to its 10 MB default explicitly:
    # Spark reads an unset byte-size conf back as "10485760b", and
    # tests compare the value a builder leaves behind as a string.
    s = get_spark(
        app_name="bdp-tests",
        cpus=8,
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "10485760"},
    )
    yield s
