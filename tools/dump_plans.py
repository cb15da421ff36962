#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for representative
queries, each with the scale property it demonstrates. Run from the
repo root: python tools/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF = "/root/testdata/sf0.01"

# (query, what the plan proves)
SHOWCASE = [
    (
        "q_tpch_q6",
        "Scan-dominant aggregate: every predicate reaches PushedFilters, "
        "ReadSchema lists only the 4 needed columns of 11 — at 100 TB "
        "this is the difference between scanning 4/11ths of the data and "
        "all of it.",
    ),
    (
        "q_tpch_q3",
        "Fact⋈fact shuffle join (lineitem⋈orders on the join key) with "
        "the filtered dim joined hash-side, and top-10 planned as "
        "TakeOrderedAndProject — per-partition heaps merged at the "
        "driver, never a global sort.",
    ),
    (
        "q_tpch_q21",
        "EXISTS / NOT EXISTS as left-semi + left-anti self-joins with "
        "equi keys (orderkey) and non-equi residuals (suppkey, lateness "
        "cutoff) — no nested-loop, no cartesian product.",
    ),
    (
        "q_flagship_star_rollup",
        "The reference's whole critical path: bounded dims broadcast, "
        "the SF-scaling customer join sized by AQE, one shuffle at the "
        "aggregate, surrogate-key window only over the 85-row result "
        "(the reference's version single-partitioned ALL rows).",
    ),
    (
        "q_rolling_time_window",
        "Per-user RANGE frame: the window exchange partitions by "
        "user_id — no Exchange SinglePartition anywhere.",
    ),
    (
        "q_stats_moments",
        "One pass, one shuffle: all six power sums accumulate in the "
        "same partial/final hash aggregate pair.",
    ),
    (
        "q_sequence_packing",
        "Distributed prefix sum: the data-scale cumsum window is "
        "partitioned by shard; the only single-partition window runs "
        "over the per-shard totals (|docs|/256 rows), whose offsets "
        "broadcast back to the shards.",
    ),
    (
        "q_salted_agg",
        "Two-phase salted aggregation: partial aggregate on (key, "
        "salt) fans a hot key over N_SALT reducers; the final merge "
        "on the bare key touches only per-salt partial rows.",
    ),
    (
        "q_quality_percentile",
        "Global percent_rank WITHOUT a global-window sort: "
        "repartitionByRange totally orders 32 shards, per-doc ranks "
        "are shard-partitioned windows, and the only single-partition "
        "window runs over the 32-row shard-totals relation whose "
        "offsets broadcast back.",
    ),
    (
        "q_bm25",
        "Corpus-stat relevance scoring: the 1-row N/avgdl scalar and "
        "the tiny per-term df table broadcast; the only data-scale "
        "shuffles are the term and doc_id keyed aggregates.",
    ),
    (
        "q_triangle_count",
        "Wedge-close triangle enumeration as keyed equi-joins (the "
        "close check is a left-semi join) — no cartesian product at "
        "any size; scalar assembly is 1-row broadcasts.",
    ),
    (
        "q_bloom_filter_join",
        "Runtime bloom-filter row pruning: bloom_filter_agg builds from "
        "the selective orders side, might_contain guards the lineitem "
        "side BEFORE its shuffle — at 100 TB only the ~20% of fact rows "
        "that can match a selective dim predicate get shuffled.",
    ),
    (
        "q_interval_overlap",
        "Non-equi interval overlap planned as an EQUI-join: both interval "
        "sets explode to fixed-width time blocks, the join keys on the "
        "block id, the overlap predicate is a residual filter, and a "
        "first-shared-block rule emits each pair exactly once — no "
        "BroadcastNestedLoopJoin, no dedup shuffle.",
    ),
    (
        "q_hard_negatives_ann",
        "ANN hard-negative mining as a join-only plan: anchors and corpus "
        "hash into LSH band buckets, candidates come from band equi-joins "
        "(shuffle on the bucket key), exact cosine runs on candidates "
        "only — no broadcast proportional to either side, no nested "
        "loop, even though the anchor set is 10% of the corpus.",
    ),
    (
        "q_incremental_dedup",
        "Incremental-ingest dedup: the new batch probes the existing "
        "corpus through two bounded equi-joins — a distinct'd md5 "
        "content-hash join and a df-capped shingle pair-count join — so "
        "a growing corpus is never re-deduped and no pair list ever "
        "materializes beyond capped candidates.",
    ),
    (
        "q_quality_ensemble",
        "Composed quality gate in ONE plan: the Gopher rules and hashed "
        "linear scorer fuse into the scan projection (per-row codegen), "
        "the perplexity branch rides its corpus-stat broadcasts, and a "
        "single doc_id equi-join assembles the 2-of-3 vote — member "
        "signals add zero extra passes over the text.",
    ),
    (
        "q_knn_pq",
        "Product-quantization serving plan: the trained codebook enters "
        "as a BroadcastExchange of a control-plane-sized local relation "
        "(PQ_M*PQ_K rows), the corpus encodes in one broadcast "
        "nested-loop pass (no shuffle), ADC candidates come from a "
        "keyed aggregate, and both candidate cut and final top-k are "
        "TakeOrderedAndProject — never a global sort.",
    ),
    (
        "q_quality_lr_train",
        "In-engine model fitting as a two-pass plan: the 4x4 normal-"
        "equation moments accumulate in ONE partial/final hash-"
        "aggregate pair (map-side combine, 15 doubles cross the wire), "
        "the Cramer solve is a projection over that 1-row relation, "
        "and scoring re-reads the persisted feature scan with the "
        "weight row broadcast — training costs the same shuffle "
        "footprint as a global count.",
    ),
    (
        "q_global_shuffle",
        "Epoch-deterministic corpus shuffle via sharded prefix-sum: "
        "RangePartitioning on the md5 key range-shards the corpus, "
        "per-shard ranks are shard-partitioned windows, and the ONLY "
        "single-partition window consumes the 32-row shard-totals "
        "relation — the full corpus never funnels through one task, "
        "unlike a naive global row_number.",
    ),
    (
        "q_skipgram_pairs",
        "Join-free training-pair expansion: the window-2 context pairs "
        "are built by nested array lambdas INSIDE the projection "
        "(Generate over a per-row computed array — executor-local), so "
        "the corpus never self-joins on position; the plan's only "
        "exchange is the (center, context) count aggregate, and top-100 "
        "is TakeOrderedAndProject.",
    ),
    (
        "q_interpolate_linear",
        "Resample-and-interpolate: the hourly spine is generated PER "
        "GROUP (explode of sequence(min,max) inside the user's own "
        "bounds — never a global calendar cross join), both anchor "
        "passes are windows partitioned by user_id (no Exchange "
        "SinglePartition anywhere), and the fill arithmetic is pure "
        "codegen projection.",
    ),
    (
        "q_hll_uniques",
        "Mergeable-sketch pre-aggregation: daily HLL sketches build in "
        "a partial aggregate (map-side combine on (type, day)), then "
        "merge per type — the plan that turns a 100 TB distinct-count "
        "re-aggregation into KB-sized sketch unions. The exact "
        "count_distinct side runs as its own expand+two-phase "
        "aggregate, and the final join broadcasts the 5-row sketch "
        "relation.",
    ),
    (
        "q_dup_span",
        "Duplicated-span detection: shingles are generated in-row "
        "(Generate over transform(sequence) — executor-local, no "
        "per-token explode), the duplicate set is one uniform shingle "
        "groupBy, and both the dup semi-join and the coverage join-back "
        "are keyed equi-joins — no nested-loop fallback, the "
        "q_ngram_jaccard profile.",
    ),
    (
        "q_semdedup",
        "SemDeDup with its round-4 invariant verify: k-means blocking "
        "(broadcast centroid assign), within-cluster pair work as a "
        "cluster-keyed equi-join (never all-pairs), and the "
        "marks_sound/marks_complete recomputation rides the SAME "
        "cluster-keyed join shape — the verify adds no new scale "
        "hazard over the operator itself.",
    ),
    (
        "q_kn_bigram_ppl",
        "Kneser-Ney bigram LM scoring: bigrams generate IN-ROW "
        "(Generate over transform(sequence) — no position self-join), "
        "all count/continuation tables are keyed aggregates, the 1-row "
        "type total broadcasts, and per-doc scoring is bigram-keyed "
        "equi-joins + one doc_id aggregate.",
    ),
    (
        "q_pipeline_ccnet",
        "CCNet curation composed in one plan: per-language LM stats "
        "broadcast onto the token stream, the per-language tercile "
        "rank rides ONE global sharded prefix-sum (32-row "
        "single-partition window over shard totals; per-lang windows "
        "would be ~6 giant partitions), and the md5 dedup window "
        "partitions by the high-cardinality fingerprint.",
    ),
    (
        "q_drift_psi",
        "Drift monitoring at scale: the timeline midpoint and per-type "
        "bin edges are tiny aggregates BROADCAST back onto the fact "
        "rows (BroadcastHashJoin / 1-row BroadcastNestedLoopJoin), the "
        "only real shuffle is the uniform (type, bin, half) count, and "
        "every PSI term computes on control-plane-sized rows "
        "afterwards.",
    ),
    (
        "q_dsir_weights",
        "DSIR importance scoring (round 5): the two unigram LMs "
        "collapse to a 128-row bucket-ratio table (map-side-combined "
        "bucket counts, nothing corpus-sized crosses an exchange) that "
        "BROADCASTS back onto the token stream; the only data-scale "
        "shuffles are the bucket count and the final doc-keyed sum.",
    ),
    (
        "q_trigram_backoff",
        "Stupid-backoff LM scoring (round 5): trigrams from two lag "
        "windows PARTITIONED BY doc (one doc-keyed exchange, no global "
        "window), count tables from map-side-combined groupBys, and "
        "the five scoring joins keyed on n-gram columns — AQE "
        "broadcasts each count table when it fits; the holdout filter "
        "is pushed into the scan.",
    ),
    (
        "q_vocab_growth",
        "Cumulative analytics without a global-sort window (round 6): "
        "the (source, term) distinct map-side-combines token "
        "occurrences down to the type table, the first-source "
        "attribution is one term-keyed min aggregate, and BOTH "
        "cumulative sums run as broadcast inequality self-joins over "
        "the PERSISTED |sources|-row relation (InMemoryRelation on "
        "both sides — the corpus machinery in its lineage runs once, "
        "not once per reference) — a running total that never funnels "
        "data-scale rows through one partition.",
    ),
    (
        "q_code_switch_audit",
        "Array-native per-window analytics (round 7): tokenization, "
        "16-token window slicing, and per-window marker lang-id all "
        "run inside higher-order transform/filter lambdas — token and "
        "window arrays never leave the row, no explode, no UDF — "
        "followed by ONE source-keyed partial_ (map-side combined) "
        "aggregate. The whole plan is a single scan-shaped "
        "WholeStageCodegen span plus one exchange on |sources| keys; "
        "per-window regex work rides the scan, proportional to corpus "
        "bytes.",
    ),
    (
        "q_dedup_merge_ingest",
        "Incremental-ingest near-dup MERGE (round 8): one corpus scan "
        "feeds the persisted shingle relation; signatures are a single "
        "64-min groupBy; every candidate join is a (band, bucket) "
        "equi-join with the ~19% batch on one side — the corpus is "
        "never self-joined, so candidate mass is bounded by batch "
        "size; the exact-Jaccard verify joins per-doc shingle ARRAYS "
        "onto candidate pairs only, and the verdict is one batch-keyed "
        "aggregate + left join. Output rows = batch rows at any "
        "corpus size.",
    ),
    (
        "q_embed_lsh_neardup",
        "Hyperplane-LSH near-dup pairs after the round-12 skinny-pair "
        "restructure: the per-band bucket equi-joins and the "
        "cross-band dropDuplicates move 16-byte (id_a, id_b) rows "
        "ONLY — no embedding column appears in any exchange before "
        "the distinct (the pre-r12 shape rode ~0.5 KB of vector "
        "payload on every candidate row through the dedupe sort and "
        "spilled past the box's disk at 600k vectors); the vectors "
        "attach AFTER the distinct via two id-keyed joins against the "
        "persisted signature relation, so each vector crosses the "
        "verify join once per distinct pair side.",
    ),
    (
        "q_tokenizer_roundtrip",
        "Tokenizer round-trip audit (round 8): the corpus collapses to "
        "the vocab-sized word-TYPE table in ONE token groupBy before "
        "any iteration; the 8 merge rounds and the decode/identity "
        "compare all run on that type table (control-plane sized at "
        "any corpus scale); serving is ONE term-keyed equi-join of the "
        "token stream (AQE broadcasts the type table when it fits) "
        "plus a source-keyed partial_ aggregate.",
    ),
    (
        "q_ivf_merge_ingest",
        "Incremental ANN index MERGE (round 9): the frozen codebook is "
        "a k-row centroid aggregate (control-plane sized) packed into "
        "ONE row and BROADCAST to the batch; routing is ranked IN-ROW "
        "(array_sort over struct(-csim, cell)) — no batch shuffle, no "
        "window, no single-partition exchange on the data path; every "
        "candidate join is a "
        "cell-equi join with the ~19% batch on one side, so candidate "
        "mass is batch-bounded and the corpus is never self-joined; "
        "the verdict is one batch-keyed min-aggregate + left join. "
        "Output rows = batch rows at any corpus size.",
    ),
    (
        "q_stream_ivf_gate",
        "Streaming ANN near-dup gate (round 10): the dumped plan is the "
        "BATCH verify stage over the drained candidate parquet (two "
        "id-equi joins + the exact-cosine filter — candidate-bounded); "
        "the STREAM side is stateless and windowless by construction "
        "(in-row band signatures + in-row routing against the one-row "
        "broadcast codebook, then a stream-static (cell, band, bucket) "
        "equi-join; pinned by tests/test_plans.py "
        "test_stream_ivf_gate_stream_side_is_stateless_and_windowless). "
        "Per micro-batch only the batch itself shuffles; the corpus "
        "index is a stored relation at scale.",
    ),
]


def main() -> None:
    from big_data_projects_spark.queries import REGISTRY
    from big_data_projects_spark.session import get_spark

    spark = get_spark(app_name="dump-plans", cpus=8)

    out = [
        "# PLANS — physical-plan review of representative queries",
        "",
        "Regenerate with `python tools/dump_plans.py` (plans at sf0.01, "
        "local[8]; structure is scale-independent, sizes are not). Each "
        "section states the scale property the plan is required to show — "
        "tests/test_plans.py asserts the load-bearing ones.",
        "",
    ]
    for name, why in SHOWCASE:
        df = REGISTRY[name].spark(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        # keep the operator tree, drop the verbose per-node detail
        # section — but surface the scan facts (pushdown + pruning)
        tree = plan.split("\n\n")[0]
        scan_facts = [
            line.strip()
            for line in plan.splitlines()
            if "PushedFilters" in line or "ReadSchema" in line
        ]
        out += [f"## {name}", "", why, "", "```", tree.rstrip()]
        if scan_facts:
            out += ["", "-- scan facts --", *scan_facts]
        out += ["```", ""]

    (REPO / "PLANS.md").write_text("\n".join(out))
    print(f"wrote {REPO / 'PLANS.md'} ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
