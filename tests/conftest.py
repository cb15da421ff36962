from __future__ import annotations

import sys
from contextlib import contextmanager
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
    s = get_spark(app_name="bdp-tests", cpus=8)
    yield s


def conf_bytes(value: str) -> int:
    """A byte-size conf value in bytes.  Spark reads an unset one back
    with a unit ("10485760b") and a set one as it was given
    ("10485760"), so compare these, never the strings."""
    return int(value.removesuffix("b"))


@contextmanager
def restored_conf(spark, *keys):
    """Run the body, then leave each key as it was before: set back to
    its old value if the session had set one, unset if it had not
    (setting an unset key back to its default would leave it set).
    Yields the saved values, None for an unset key."""
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        yield saved
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
