"""Meta-guard: every oracle-backed query in the registry must be picked up
by at least one differential-oracle test module.

Round 2 found six queries that matched no module's prefix
filter and therefore had zero oracle coverage despite the repo's
convention.  The prefix lists have since been fixed, but nothing stopped
the same lapse from recurring for the *next* new query — this test does.
"""

from __future__ import annotations

import importlib

from big_data_projects_spark.queries import REGISTRY

_ORACLE_TEST_MODULES = (
    "tests.test_oracle_core",
    "tests.test_oracle_llm",
    "tests.test_oracle_olap",
    "tests.test_oracle_scale",
    "tests.test_oracle_series",
    "tests.test_oracle_tpch_expr",
)


def _covered_names() -> set[str]:
    covered: set[str] = set()
    for modname in _ORACLE_TEST_MODULES:
        mod = importlib.import_module(modname)
        for attr in dir(mod):
            if attr == "NAMES" or attr.endswith("_QUERIES"):
                covered.update(getattr(mod, attr))
    return covered


def test_every_oracle_backed_query_has_a_test():
    oracle_backed = {n for n, q in REGISTRY.items() if q.oracle is not None}
    missing = sorted(oracle_backed - _covered_names())
    assert not missing, (
        "oracle-backed queries with no differential-oracle test "
        f"(extend a prefix list in tests/test_oracle_*.py): {missing}"
    )


def test_every_oracle_backed_query_runs_in_exactly_one_suite():
    """Overlapping prefix lists had 59 queries running the
    full differential compare 2-3x per suite run.  Ownership now lives
    in tests/oracle_utils.py; this pins the partition."""
    from collections import Counter

    counts: Counter[str] = Counter()
    for modname in _ORACLE_TEST_MODULES:
        mod = importlib.import_module(modname)
        for attr in dir(mod):
            if attr == "NAMES" or attr.endswith("_QUERIES"):
                counts.update(getattr(mod, attr))
    dups = sorted(n for n, c in counts.items() if c > 1)
    assert not dups, f"queries selected by more than one oracle suite: {dups}"


def test_rows_only_set_is_intentional():
    """Rows-only (no oracle) queries are a declared, closed list: adding a
    query without an oracle twin must be a conscious decision recorded
    here, not an accident."""
    rows_only = sorted(n for n, q in REGISTRY.items() if q.oracle is None)
    declared = sorted([
        # nondeterministic by contract (monotonically_increasing_id).
        # The k-means family (q_kmeans_clusters, q_semdedup,
        # q_semdedup_hier) left this list in round 4: upgraded to
        # one-row invariant summaries under the sketch-oracle pattern
        # (exact counts + hash-checked partition/marking booleans).
        "q_mono_id",
    ])
    assert rows_only == declared, (
        "rows-only set drifted; either add an oracle_sql twin or update "
        f"the declared list. now: {rows_only}"
    )
