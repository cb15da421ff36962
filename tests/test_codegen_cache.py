"""Spark's cache of compiled generated classes must hold a whole
olap_etl pass: with Spark's default 100 entries, LRU evicted each of
the pass's ~145 classes before its next use, and every repeated pass
recompiled them all. A single query re-run alone fits in 100 entries,
so only the whole sequence, run repeatedly, shows the difference."""

from __future__ import annotations

import json
import shutil

from big_data_projects_spark.measure import codegen_compiles, force_count
from big_data_projects_spark.queries import REGISTRY
from big_data_projects_spark.reference_etl import run_reference_etl
from big_data_projects_spark.session import ensure_runtime_conf

from conftest import SF_SMALL
from test_reference_etl import LOGS, SONGS

# perfbench's olap_etl operations, in its order.
QUERIES = ("q_tpch_q1", "q_flagship_star_rollup", "q_sessionize")
OPERATIONS = (*QUERIES, "reference_etl")


def test_olap_etl_pass_reuses_its_generated_classes(spark, tmp_path):
    # The cap get_spark builds the session with (a static conf).
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"

    songs, logs, out = tmp_path / "songs.json", tmp_path / "logs.json", tmp_path / "star"
    songs.write_text("\n".join(json.dumps(r) for r in SONGS))
    logs.write_text("\n".join(json.dumps(r) for r in LOGS))

    def run(name):
        if name == "reference_etl":
            shutil.rmtree(out, ignore_errors=True)
            run_reference_etl(spark, str(songs), str(logs), out_dir=str(out))
        else:
            force_count(REGISTRY[name].raw(spark, SF_SMALL))

    def one_pass() -> dict[str, int]:
        """Classes compiled per operation."""
        compiles = {}
        for name in OPERATIONS:
            ensure_runtime_conf(spark)
            compiles[name] = codegen_compiles(spark, lambda: run(name))[1]
            spark.catalog.clearCache()
        return compiles

    first = one_pass()
    warm = [one_pass(), one_pass()]
    assert all(r[q] == 0 for r in warm for q in QUERIES), (first, warm)
    # The ETL's concurrent writes can number two of its aggregation
    # stages in either order, and the codegen stage id is part of the
    # generated class, so one warm round may compile the other order's
    # copies (4 classes seen); once both orders are cached, none.
    assert min(r["reference_etl"] for r in warm) == 0, (first, warm)
