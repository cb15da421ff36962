"""Unit/invariant tests for the round-5 curation family
(queries_curation.py) — properties the differential oracle can't state
directly: determinism under repartitioning, mathematical invariants of
the driver-side eigensolve, and boundary behavior of the masking /
scoring expressions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_projects_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    return REGISTRY[name].raw(spark, SF)


def test_kmeans_assignment_partition_layout_independent(spark):
    """The in-row argmin rewrite (round 5) must give identical
    assignments no matter how the input is partitioned — decimal
    centroid sums and lexicographic struct tie-breaks are the
    load-bearing properties."""
    from big_data_projects_spark.data import load_table
    from big_data_projects_spark.operators.similarity import kmeans_assign

    emb = load_table(spark, SF, "embeddings")
    a = {
        (r["vec_id"], r["cluster"])
        for r in kmeans_assign(emb, k=8, n_iter=2).collect()
    }
    b = {
        (r["vec_id"], r["cluster"])
        for r in kmeans_assign(emb.repartition(7), k=8, n_iter=2).collect()
    }
    assert a == b
    n = emb.count()
    assert len(a) == n  # every vector assigned exactly once
    assert {c for _, c in a} <= set(range(1, 9))


def test_bt_reward_scores_normalized_and_positive(spark):
    rows = _run(spark, "q_bt_reward").collect()
    assert all(r["bt_score"] > 0 for r in rows)  # +1 smoothing
    assert abs(sum(r["bt_score"] for r in rows) - 1.0) < 1e-6
    # wins are a subset of comparisons
    assert all(r["wins"] <= r["n_comps"] for r in rows)


def test_pca_variance_invariants_hold(spark):
    r = _run(spark, "q_pca_variance").collect()[0]
    assert r["trace_preserved"] and r["orthonormal"] and r["eigs_descending"]
    assert r["dim"] == 64 and r["total_var"] > 0


def test_span_corruption_bounds(spark):
    rows = _run(spark, "q_span_corruption").collect()
    for r in rows:
        assert 0 <= r["n_masked_tokens"] <= r["n_tokens"]
        assert r["n_masked_spans"] <= r["n_blocks"]
        assert 0.0 <= r["mask_rate"] <= 1.0
    # the 1-in-5 hash gate should land near 20% of blocks corpus-wide
    tot_b = sum(r["n_blocks"] for r in rows)
    tot_m = sum(r["n_masked_spans"] for r in rows)
    assert 0.10 < tot_m / tot_b < 0.35


def test_dsir_separates_target_sources(spark):
    """Target-slice documents must score higher on average than the
    corpus at large — the defining property of an importance weight
    (deterministic on the fixed testdata)."""
    w = _run(spark, "q_dsir_weights")
    from big_data_projects_spark.data import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    j = w.join(docs, "doc_id")
    tgt = j.filter(F.col("source").isin("src0", "src1")).agg(
        F.avg(F.col("log_weight") / F.col("n_toks"))
    ).collect()[0][0]
    rest = j.filter(~F.col("source").isin("src0", "src1")).agg(
        F.avg(F.col("log_weight") / F.col("n_toks"))
    ).collect()[0][0]
    assert tgt > rest


def test_char_entropy_detects_repetition(spark):
    """A degenerate one-character document must score (near) zero
    entropy; natural text well above the 2.0-nat gate."""
    df = spark.createDataFrame(
        [(1, "aaaaaaaaaaaaaaaa"), (2, "the quick brown fox jumps")],
        "doc_id long, text string",
    )
    from big_data_projects_spark.queries_curation import q_char_entropy

    # drive the same expressions over an inline relation via a temp SF
    # substitute: compute directly with the module's building blocks
    ch = df.select("doc_id", F.explode(F.split("text", "")).alias("c"))
    k = (
        ch.filter(F.col("c") != "")
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    s = k.groupBy("doc_id").agg(
        F.sum("k").alias("n"),
        F.sum(
            F.round(F.col("k") * F.log("k"), 10).cast("decimal(38,14)")
        ).cast("double").alias("sk"),
    )
    h = {
        r["doc_id"]: float(r["h"])
        for r in s.select(
            "doc_id", (F.log("n") - F.col("sk") / F.col("n")).alias("h")
        ).collect()
    }
    assert h[1] < 1e-9
    assert h[2] > 2.0


def test_lsh_quality_recall_bounds(spark):
    r = _run(spark, "q_lsh_quality").collect()[0]
    assert 0 <= r["n_hits"] <= min(r["n_truth"], r["n_candidates"])
    assert 0.0 <= r["precision"] <= 1.0 and 0.0 <= r["recall"] <= 1.0
    # 32 bands x 2 rows at tau=0.3 should catch essentially everything
    assert r["recall"] >= 0.9


def test_minhash_estimator_is_calibrated(spark):
    """Mean |estimate - exact| over verified pairs should be well
    inside the 1/sqrt(64) = 0.125 standard error for 64 permutations
    (deterministic on the fixed testdata)."""
    rows = _run(spark, "q_minhash_est").collect()
    assert rows
    mean_err = sum(r["abs_err"] for r in rows) / len(rows)
    assert mean_err < 0.125


def test_trigram_backoff_scores_are_logprobs(spark):
    rows = _run(spark, "q_trigram_backoff").collect()
    assert rows
    assert all(r["avg_logscore"] < 0 for r in rows)  # scores < 1 ⇒ ln < 0
    assert all(r["n_trigrams"] > 0 for r in rows)


def test_pass_at_k_monotone_and_bounded(spark):
    """pass@k is a probability and non-decreasing in k (more samples
    drawn -> at least as likely one passes); every problem panel is
    md5-derived so n_problems is stable across runs."""
    rows = {r["k"]: r for r in _run(spark, "q_pass_at_k").collect()}
    assert set(rows) == {1, 5, 10}
    vals = [rows[k]["pass_at_k"] for k in (1, 5, 10)]
    assert all(0.0 <= v <= 1.0 for v in vals)
    assert vals[0] <= vals[1] <= vals[2]
    assert all(rows[k]["n_problems"] > 0 for k in rows)


def test_pass_at_k_estimator_matches_bruteforce(spark):
    """The unrolled product must equal 1 - C(n-c,k)/C(n,k) exactly on
    a hand-computed case."""
    from math import comb

    import big_data_projects_spark.queries_curation as qc

    # replicate the per-problem arithmetic for a few (n, c, k)
    for n, c, k in [(20, 3, 5), (10, 0, 10), (7, 7, 5), (12, 8, 10)]:
        prod = 1.0
        for i in range(k):
            prod *= (n - c - i) / (n - i)
        expected = 1.0 if n - c < k else 1.0 - comb(n - c, k) / comb(n, k)
        got = 1.0 if n - c < k else 1.0 - prod
        assert abs(got - expected) < 1e-9, (n, c, k)
    assert qc.PASS_AT_K_KS == (1, 5, 10)


def test_cross_source_leakage_is_symmetric_and_complete(spark):
    """Every near-dup pair lands in exactly one (src_a <= src_b) cell:
    cell mass sums to the edge count, and the matrix is canonical
    (src_a <= src_b everywhere)."""
    from big_data_projects_spark.data import load_table
    from big_data_projects_spark.operators import dedup as D

    rows = _run(spark, "q_cross_source_leakage").collect()
    assert all(r["src_a"] <= r["src_b"] for r in rows)
    assert all(r["is_cross"] == (r["src_a"] != r["src_b"]) for r in rows)
    docs = load_table(spark, SF, "documents")
    n_pairs = (
        D.ngram_jaccard_pairs(docs, threshold=0.1)
        .select("doc_a", "doc_b")
        .count()
    )
    assert sum(r["n_pairs"] for r in rows) == n_pairs


def test_annotator_agreement_kappa_identity(spark):
    """kappa recomputes from the contingency counts; po/pe are
    consistent with them and kappa is positive (the two length-derived
    raters are correlated by construction)."""
    r = _run(spark, "q_annotator_agreement").collect()[0]
    n = r["n_docs"]
    assert n == r["n11"] + r["n10"] + r["n01"] + r["n00"]
    po = (r["n11"] + r["n00"]) / n
    pe = ((r["n11"] + r["n10"]) / n) * ((r["n11"] + r["n01"]) / n) + (
        (r["n01"] + r["n00"]) / n
    ) * ((r["n10"] + r["n00"]) / n)
    assert abs(r["po"] - round(po, 8)) < 1e-12
    assert abs(r["pe"] - round(pe, 8)) < 1e-12
    assert abs(r["kappa"] - round((po - pe) / (1 - pe), 8)) < 1e-12
    assert r["kappa"] > 0.0


def test_ivf_probe_recall_sweep_shape_and_monotone(spark):
    """3 sweep points x 20 panel queries; recall is a probability on
    exactly-10 overlap counts, and widening the probe set must not
    reduce AVERAGE recall (candidate sets nest)."""
    rows = _run(spark, "q_ivf_probe_recall").collect()
    assert len(rows) == 60
    assert all(0 <= r["n_overlap"] <= 10 for r in rows)
    assert all(0.0 <= r["recall_at_10"] <= 1.0 for r in rows)
    assert all(r["recall_at_10"] == r["n_overlap"] / 10.0 for r in rows)
    by_np = {}
    for r in rows:
        by_np.setdefault(r["n_probe"], []).append(r["recall_at_10"])
    assert set(by_np) == {1, 2, 4}
    avg = {k: sum(v) / len(v) for k, v in by_np.items()}
    assert avg[1] <= avg[2] <= avg[4]
    assert avg[4] > 0.0


def test_dsir_ess_matches_recomputation(spark):
    """ESS recomputed driver-side from the producer's weights must
    agree; bounds: 1 <= ESS <= n, shares in (0, 1]."""
    r = _run(spark, "q_dsir_ess").collect()[0]
    n = r["n_docs"]
    assert 1.0 <= r["ess"] <= n
    assert abs(r["ess_fraction"] - round(r["ess"] / n, 4)) < 1e-3
    assert 0.0 < r["max_weight_share"] <= 1.0
    lw = [
        row["log_weight"]
        for row in _run(spark, "q_dsir_weights").collect()
    ]
    assert len(lw) == n
    mx = max(lw)
    w = [round(__import__("math").exp(x - mx), 12) for x in lw]
    ess = sum(w) ** 2 / sum(x * x for x in w)
    assert abs(ess - r["ess"]) < 0.01


def test_dedup_threshold_sweep_is_monotone(spark):
    """Raising the threshold can only shrink the flagged set; shares
    are probabilities; the lowest point covers every flagged doc."""
    rows = sorted(
        _run(spark, "q_dedup_threshold_sweep").collect(),
        key=lambda r: r["threshold"],
    )
    assert [r["threshold"] for r in rows] == [0.1, 0.3, 0.5]
    pair_counts = [r["n_pairs"] for r in rows]
    doc_counts = [r["n_docs_flagged"] for r in rows]
    assert pair_counts == sorted(pair_counts, reverse=True)
    assert doc_counts == sorted(doc_counts, reverse=True)
    assert all(0.0 <= r["docs_share"] <= 1.0 for r in rows)
    assert rows[0]["n_pairs"] > 0  # the 0.1 floor flags SOMETHING


def test_pii_prevalence_consistency(spark):
    """Per-source counts are internally consistent and the md5 subset
    injection yields prevalence strictly between 0 and 100% overall
    (the view is a measurement, not an artifact)."""
    rows = _run(spark, "q_pii_prevalence").collect()
    assert all(r["docs_with_email"] <= r["n_docs"] for r in rows)
    assert all(r["docs_with_phone"] <= r["n_docs"] for r in rows)
    assert all(
        r["n_spans"] >= max(r["docs_with_email"], r["docs_with_phone"])
        for r in rows
    )
    n = sum(r["n_docs"] for r in rows)
    with_email = sum(r["docs_with_email"] for r in rows)
    assert 0 < with_email < n  # 1-in-5 md5 subset, neither 0 nor all


def test_quality_lr_train_beats_base_rate(spark):
    """The closed-form fit must be a real model, not a degenerate
    all-positive gate: confusion counts partition the corpus, accuracy
    is exact, and the trained accuracy strictly beats the majority-
    class base rate (the failure mode the GD prototype exhibited)."""
    r = _run(spark, "q_quality_lr_train").collect()
    assert len(r) == 1
    r = r[0]
    assert r["tp"] + r["fp"] + r["tn"] + r["fn"] == r["n_docs"]
    assert r["tp"] + r["fn"] == r["n_pos"]
    assert abs(r["accuracy"] - (r["tp"] + r["tn"]) / r["n_docs"]) < 1e-8
    base = max(r["n_pos"], r["n_docs"] - r["n_pos"]) / r["n_docs"]
    assert r["accuracy"] > base
    assert r["tn"] > 0 and r["tp"] > 0  # both classes actually predicted


def test_filter_ablation_partitions_corpus(spark):
    """The 16-cell funnel table is a partition of the corpus (cells
    disjoint, counts sum to n), shares sum to 1, every gate has both
    passing and failing mass (no degenerate dimension), and each
    gate's marginal matches its owning query's view where one exists
    (gopher marginal vs q_gopher_rules keep count)."""
    rows = _run(spark, "q_filter_ablation").collect()
    assert 1 < len(rows) <= 16
    n = sum(r["n_docs"] for r in rows)
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert n == docs.count()
    assert abs(sum(r["docs_share"] for r in rows) - 1.0) < 1e-6
    for gate in ("gopher_keep", "clf_keep", "pii_keep"):
        passing = sum(r["n_docs"] for r in rows if r[gate])
        assert 0 < passing < n, f"{gate} is degenerate"
    # The entropy floor is all-pass on THIS corpus (natural synthetic
    # text never scores under 2.0 nats — the same measurement
    # q_char_entropy reports); assert the direction, not a split.
    assert sum(r["n_docs"] for r in rows if r["entropy_keep"]) == n
    gopher_marginal = sum(r["n_docs"] for r in rows if r["gopher_keep"])
    gq = _run(spark, "q_gopher_rules").collect()
    gk = sum(1 for r in gq if r["keep"])
    assert gopher_marginal == gk


# (case, text): each boundary of the Gopher gate from both sides.
_GOPHER_CASES = [
    ("empty", ""),  # tokens [''] — 1 word, mean length 0
    ("whitespace", "   "),
    # trim strips spaces only: the tab splits into two empty tokens
    ("tab", " \t "),
    ("null", None),
    ("n24", " ".join(["the", "and"] + ["word"] * 22)),
    ("n25", " ".join(["the", "and"] + ["word"] * 23)),
    ("n500", " ".join(["the", "and"] + ["word"] * 498)),
    ("n501", " ".join(["the", "and"] + ["word"] * 499)),
    ("mean3", " ".join(["the", "and"] + ["abc"] * 28)),
    ("mean_under3", " ".join(["the", "and", "ab"] + ["abc"] * 27)),
    (
        "mean10",
        " ".join(["the", "and"] + ["a" * 10] * 14 + ["b" * 11] * 14),
    ),
    (
        "mean_over10",
        " ".join(["the", "and"] + ["a" * 10] * 13 + ["b" * 11] * 15),
    ),
    ("one_stopword_repeated", " ".join(["the"] * 5 + ["word"] * 25)),
    ("two_stopwords", " ".join(["  The", "AND\t"] + ["word"] * 28)),
]


def test_gopher_gate_edge_cases_match_duckdb_oracle(spark):
    """operators.text.gopher against the q_gopher_rules oracle run in
    DuckDB, row by row: every output (n_words, mean_word_len,
    n_stopwords, keep) at each boundary of the rule, plus empty,
    whitespace-only and null text."""
    import duckdb

    from big_data_projects_spark.operators import text as T

    rows = [(i, text) for i, (_, text) in enumerate(_GOPHER_CASES)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cols = [f"{e} AS {k}" for k, e in T.gopher("__t").items()]
    got = sorted(
        tuple(r)
        for r in df.select("doc_id", T.tokens("text").alias("__t"))
        .selectExpr("doc_id", *cols)
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(con.sql(REGISTRY["q_gopher_rules"].oracle).fetchall())
    assert got == want
    keep = {_GOPHER_CASES[r[0]][0]: r[4] for r in got}
    assert keep == {
        "empty": False,
        "whitespace": False,
        "tab": False,
        "null": None,
        "n24": False,
        "n25": True,
        "n500": True,
        "n501": False,
        "mean3": True,
        "mean_under3": False,
        "mean10": True,
        "mean_over10": False,
        "one_stopword_repeated": False,
        "two_stopwords": True,
    }
    stats = {_GOPHER_CASES[r[0]][0]: r[1:4] for r in got}
    assert stats["empty"] == stats["whitespace"] == (1, 0.0, 0)
    assert stats["tab"] == (2, 0.0, 0)
    assert stats["one_stopword_repeated"][2] == 1


def test_survivor_bias_conservation(spark):
    """Before/after masses conserve (after ≤ before per source, totals
    consistent), shares each sum to 1, deltas sum to ~0, and the
    drop set is genuinely non-empty on this corpus (near-dup pairs
    exist at the 0.3 threshold)."""
    rows = _run(spark, "q_dedup_survivor_bias").collect()
    assert len(rows) == 20  # one row per source
    for r in rows:
        assert 0 <= r["n_docs_after"] <= r["n_docs_before"]
        assert 0 <= r["n_tokens_after"] <= r["n_tokens_before"]
    nb = sum(r["n_docs_before"] for r in rows)
    na = sum(r["n_docs_after"] for r in rows)
    assert na < nb  # something was dropped
    assert abs(sum(r["share_before"] for r in rows) - 1.0) < 1e-6
    assert abs(sum(r["share_after"] for r in rows) - 1.0) < 1e-6
    assert abs(sum(r["share_delta"] for r in rows)) < 1e-6


def test_split_leakage_conservation(spark):
    """Both assignment rules partition the SAME edge set (totals
    equal), the naive doc-hash rule leaks (cross mass > 0 — the
    content-blind split straddles near-dup pairs), is_cross is
    consistent with the split pair, and the one-hop rep rule reduces
    the cross mass on this corpus."""
    rows = _run(spark, "q_split_leakage").collect()
    by_rule = {}
    for r in rows:
        by_rule.setdefault(r["rule"], []).append(r)
    assert set(by_rule) == {"doc_hash", "rep_hash"}
    totals = {k: sum(r["n_pairs"] for r in v) for k, v in by_rule.items()}
    assert totals["doc_hash"] == totals["rep_hash"] > 0
    for r in rows:
        assert r["split_a"] <= r["split_b"]
        assert r["is_cross"] == (r["split_a"] != r["split_b"])
    cross = {
        k: sum(r["n_pairs"] for r in v if r["is_cross"])
        for k, v in by_rule.items()
    }
    assert cross["doc_hash"] > 0
    assert cross["rep_hash"] < cross["doc_hash"]


def test_encoding_audit_detectors_and_injection(spark):
    """The injected damage classes are each detected (non-zero U+FFFD,
    mojibake, and control-char doc counts overall), no class swallows
    the corpus (strictly interior shares), counts are internally
    consistent (each class count <= n_docs, damaged_share consistent
    with the union bound), and the non-ASCII density is positive (the
    injected sequences are themselves non-ASCII) but small on this
    ASCII-dominated synthetic corpus."""
    rows = _run(spark, "q_encoding_audit").collect()
    n = sum(r["n_docs"] for r in rows)
    fffd = sum(r["docs_fffd"] for r in rows)
    moji = sum(r["docs_mojibake"] for r in rows)
    ctrl = sum(r["docs_ctrl"] for r in rows)
    assert 0 < fffd < n  # 1-in-6 md5 subset
    assert 0 < moji < n  # 1-in-8
    assert 0 < ctrl < n  # 1-in-9
    for r in rows:
        assert r["docs_fffd"] <= r["n_docs"]
        assert r["docs_mojibake"] <= r["n_docs"]
        assert r["docs_ctrl"] <= r["n_docs"]
        assert 0.0 <= r["damaged_share"] <= 1.0
        # union bound: damaged docs can't exceed the sum of the classes
        assert (
            r["damaged_share"] * r["n_docs"]
            <= r["docs_fffd"] + r["docs_mojibake"] + r["docs_ctrl"] + 1e-6
        )
        assert 0.0 < r["nonascii_per_1k"] < 100.0


def test_sft_turn_audit_parses_materialized_structure(spark):
    """The audit must behave like a parser of real chat data: both
    injected defect classes are detected with strictly interior
    overall shares (1-in-7 role violations among multi-turn convs,
    1-in-9 empty final turns), every share is a valid probability,
    tokens-per-turn never exceeds the 12-token turn size, and
    ends-on-user mass exists in both directions (turn-count parity
    varies across the corpus)."""
    rows = _run(spark, "q_sft_turn_audit").collect()
    n = sum(r["n_convs"] for r in rows)
    viol = sum(round(r["share_role_violation"] * r["n_convs"]) for r in rows)
    empty = sum(round(r["share_empty_turn"] * r["n_convs"]) for r in rows)
    ends = sum(round(r["share_ends_user"] * r["n_convs"]) for r in rows)
    assert 0 < viol < n
    assert 0 < empty < n
    assert 0 < ends < n
    for r in rows:
        for c in ("share_role_violation", "share_empty_turn",
                  "share_ends_user", "share_over_budget"):
            assert 0.0 <= r[c] <= 1.0
        assert r["avg_turns"] >= 1.0
        assert 0.0 < r["avg_tokens_per_turn"] <= 12.0


def test_sft_turn_audit_tolerates_empty_and_null_text(spark, tmp_path):
    """An empty/NULL-text document yields n_turns=0; the
    audit must return a row (ends_user / role_viol / empty_turn all 0
    contributions) rather than throw from element_at(roles, 0) or a
    descending sequence(0, -1).  The DuckDB oracle's out-of-range list
    index is NULL-tolerant; the Spark side must match that behavior."""
    import pandas as pd

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [None, "", "alpha beta gamma"],
        "lang": ["en", "en", "en"],
        "source": ["s1", "s1", "s1"],
        "n_chars": [0, 0, 16],
    })
    docs.to_parquet(str(tmp_path / "documents.parquet"))
    rows = REGISTRY["q_sft_turn_audit"].raw(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_convs"] == 3
    # only the real doc can end on a user turn or violate alternation
    assert 0.0 <= r["share_ends_user"] <= 1.0
    assert 0.0 <= r["share_role_violation"] <= 1.0


def test_code_switch_audit_detects_injection_with_interior_shares(spark):
    """Both detectors must fire on the materialized mixing and stay
    strictly interior overall; a switched doc necessarily has >= 2
    known window languages, so docs_switched <= docs_multilang per
    source; every share is a valid probability and window mass is
    positive."""
    rows = _run(spark, "q_code_switch_audit").collect()
    n = sum(r["n_docs"] for r in rows)
    multi = sum(r["docs_multilang"] for r in rows)
    switched = sum(r["docs_switched"] for r in rows)
    assert 0 < multi < n
    assert 0 < switched < n
    for r in rows:
        assert r["docs_switched"] <= r["docs_multilang"]
        assert 0.0 <= r["share_multilang"] <= 1.0
        assert r["avg_switches"] >= 0.0
        assert r["avg_windows"] >= 1.0


def test_code_switch_audit_tolerates_empty_and_null_text(spark, tmp_path):
    """Empty/NULL text gives zero windows: the guarded index sequence
    must not descend, and the doc still counts in n_docs (the oracle's
    LEFT JOIN mirrors this)."""
    import pandas as pd

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        # doc 3: first 16 tokens carry only en markers (window 1 ->
        # 'en'), the next 16 only de markers (window 2 -> 'de').
        "text": [None, "", "the cat is a dog and the sun is of a day "
                          "and the fog is "
                          "der die das und ist der die das und ist "
                          "der die das und ist"],
        "lang": ["en", "en", "en"],
        "source": ["s1", "s1", "s1"],
        "n_chars": [0, 0, 100],
    })
    docs.to_parquet(str(tmp_path / "documents.parquet"))
    rows = REGISTRY["q_code_switch_audit"].raw(
        spark, str(tmp_path)
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_docs"] == 3
    # doc 3 (25+ tokens: en window then de windows) must be detected
    assert r["docs_multilang"] >= 1


def test_vocab_growth_conservation_and_monotonicity(spark):
    """The growth curve must be a real partition of the type space:
    src_ranks are exactly 1..n with cum masses non-decreasing along
    them, per-source new_types sum to the final cumulative type count,
    the final cumulative type count equals the corpus's true distinct
    type count, the final cumulative token count equals the corpus's
    true token count, and the FIRST source's new_types equals its own
    distinct type count (nothing acquired before it)."""
    from big_data_projects_spark.data import load_table
    from big_data_projects_spark.operators import text as T

    rows = sorted(_run(spark, "q_vocab_growth").collect(),
                  key=lambda r: r["src_rank"])
    n = len(rows)
    assert [r["src_rank"] for r in rows] == list(range(1, n + 1))
    for prev, cur in zip(rows, rows[1:]):
        assert cur["cum_types"] >= prev["cum_types"]
        assert cur["cum_tokens"] > prev["cum_tokens"]
    assert sum(r["new_types"] for r in rows) == rows[-1]["cum_types"]

    docs = load_table(spark, SF, "documents")
    tok = docs.select("source", F.explode(T.tokens("text")).alias("t"))
    assert rows[-1]["cum_types"] == tok.select("t").distinct().count()
    assert rows[-1]["cum_tokens"] == tok.count()
    first_src = rows[0]["source"]
    first_types = (
        tok.filter(F.col("source") == first_src)
        .select("t").distinct().count()
    )
    assert rows[0]["new_types"] == first_types
