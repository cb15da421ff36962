"""Local stand-in for the driver's DuckDB differential oracle.

Runs a registered Spark query and its oracle SQL on the same parquet,
normalizes both results (columns sorted by name, rows sorted), and
compares row-count + column names + exact values. Stricter than a
value-hash: if this passes, the driver's hash comparison passes.
"""

from __future__ import annotations

import math

import duckdb

from big_data_projects_spark.data import TABLES
from big_data_projects_spark.queries import REGISTRY

# ---------------------------------------------------------------------------
# Suite ownership.  Every oracle-backed query runs the differential
# comparison in exactly ONE test module (overlapping prefix
# lists had 59 queries running the full oracle compare 2-3x per suite
# run — pure duplicated wall-time).  Ownership is first-match in
# _SUITE_ORDER; anything unclaimed falls to the residual "core" suite,
# so new registrations can never be double-selected or dropped.
# ---------------------------------------------------------------------------
LLM_PREFIXES = (
    "q_dedup", "q_knn", "q_text", "q_lang", "q_token",
    "q_doc_", "q_simhash", "q_multimodal", "q_stream",
    "q_ngram", "q_embed", "q_tfidf", "q_pipeline",
    "q_hash_", "q_data_quality", "q_rank_",
    # round-5 curation family (queries_curation.py)
    "q_dsir", "q_char_entropy", "q_trigram",
    "q_pca_", "q_bt_", "q_rouge", "q_span_corruption",
    "q_zipf", "q_lsh_", "q_minhash_", "q_length_kl",
    "q_tokenizer_", "q_quality_calibration",
    "q_quality_lr_train", "q_filter_ablation",
    "q_split_", "q_graph_",
    # round-6 eval/provenance/label-QA family
    "q_pass_at_k", "q_cross_source_", "q_annotator_", "q_ivf_",
)

_SUITE_PREFIXES = {
    "tpch_expr": (
        "q_tpch_", "q_json_", "q_explode_", "q_grouping_", "q_date_arith",
        "q_string_funcs", "q_range_join", "q_ntile_", "q_array_ops",
        "q_max_by", "q_map_ops",
    ),
    "llm": LLM_PREFIXES,
    "olap": (
        "q_join_left", "q_join_semi", "q_join_anti", "q_set_",
        "q_rollup", "q_cube", "q_pivot", "q_window_",
        "q_having", "q_scalar_", "q_case_", "q_distinct_",
        "q_median", "q_rolling_", "q_quantiles", "q_gapfill",
        "q_union_by", "q_nullsafe", "q_scd2", "q_histogram",
        "q_string_agg", "q_bitwise", "q_merge", "q_incremental",
    ),
    "series": (
        "q_interpolate_", "q_ewma", "q_event_transitions",
        "q_mad_", "q_trend_", "q_hll_", "q_sketch_",
        "q_dup_span", "q_ohlc_", "q_parameterized_",
        "q_sql_variables", "q_sql_scripting", "q_sql_udf",
        "q_scalar_iter_udf", "q_map_in_arrow",
        "q_pandas_api_", "q_drift_", "q_approx_",
        "q_feature_store_", "q_cdc_", "q_profile_", "q_shard_",
        "q_codec_",
    ),
}
_SUITE_EXACT = {
    "scale": (
        "q_stats_moments", "q_salted_join", "q_bucketed_join",
        "q_scan_json_schema", "q_scan_json_corrupt", "q_compaction",
    ),
}
_SUITE_ORDER = ("tpch_expr", "llm", "olap", "scale", "series")


def _suite_of(name: str) -> str:
    for s in _SUITE_ORDER:
        if name in _SUITE_EXACT.get(s, ()) or name.startswith(
            _SUITE_PREFIXES.get(s, ())
        ):
            return s
    return "core"


def suite_queries(suite: str) -> list[str]:
    """Oracle-backed registry queries owned by ``suite`` (disjoint)."""
    return sorted(
        n for n, q in REGISTRY.items()
        if q.oracle is not None and _suite_of(n) == suite
    )


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm_cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return ("f", repr(float(v)))
    if isinstance(v, (int,)):
        return ("i", int(v))
    if isinstance(v, bytes):
        return ("b", v.hex())
    return ("s", str(v))


def _canon(df_pandas, cols):
    rows = [
        tuple(_norm_cell(row[c]) for c in cols)
        for _, row in df_pandas.iterrows()
    ]
    rows.sort()
    return rows


def compare_query(spark, name: str, sf_dir: str = "/root/testdata/sf0.01"):
    """Raise AssertionError with a diff summary on mismatch."""
    q = REGISTRY[name]
    assert q.oracle is not None, f"{name} has no oracle (rows-only)"
    sdf = q.spark(spark, sf_dir).toPandas()
    con = duck_con(sf_dir)
    odf = con.sql(q.oracle).df()
    con.close()

    scols, ocols = sorted(sdf.columns), sorted(odf.columns)
    assert scols == ocols, f"{name}: column mismatch spark={scols} oracle={ocols}"
    assert len(sdf) == len(odf), f"{name}: rowcount spark={len(sdf)} oracle={len(odf)}"

    srows, orows = _canon(sdf, scols), _canon(odf, scols)
    if srows != orows:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs: {diffs}")
    return len(sdf)
