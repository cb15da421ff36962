"""Property-based tests (hypothesis): semantic invariants that must
hold for ARBITRARY inputs, not just the testdata.

Each property uses small generated relations (Spark job per example is
expensive — examples are few but adversarial: nulls, duplicates, empty
sides, hot keys)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows = st.lists(
    st.tuples(
        st.integers(0, 9),                      # join key (hot: small domain)
        st.floats(-1e6, 1e6, allow_nan=False),  # value
    ),
    min_size=0,
    max_size=30,
)


@given(data=rows, n_salt=st.integers(2, 5))
@settings(**SETTINGS)
def test_salted_join_equals_plain_join(spark, data, n_salt):
    from big_data_projects_spark.operators.relational import salted_join

    fact = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(data)],
        "id long, k long, v double",
    )
    dim = spark.createDataFrame(
        [(k, f"t{k}") for k in range(0, 10, 2)], "k2 long, tag string"
    )
    salted = salted_join(
        fact, dim, "k", "k2", fact_unique_col="id", n_salt=n_salt
    ).select("id", "k", "v", "tag")
    plain = fact.join(dim, fact.k == dim.k2).select("id", "k", "v", "tag")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


@given(
    target=st.lists(
        st.tuples(st.integers(0, 6), st.floats(-100, 100, allow_nan=False)),
        max_size=10,
        unique_by=lambda t: t[0],
    ),
    source=st.lists(
        st.tuples(st.integers(0, 6), st.floats(-100, 100, allow_nan=False)),
        max_size=10,
        unique_by=lambda t: t[0],
    ),
)
@settings(**SETTINGS)
def test_merge_upsert_is_dict_update(spark, target, source):
    """merge_upsert on unique keys is exactly Python dict.update."""
    from big_data_projects_spark.operators.relational import merge_upsert

    tdf = spark.createDataFrame(target, "k long, v double")
    sdf = spark.createDataFrame(source, "k long, v double")
    got = {
        r["k"]: r["v"] for r in merge_upsert(tdf, sdf, key="k").collect()
    }
    expect = dict(target)
    expect.update(dict(source))
    assert got == expect


@given(
    values=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False), min_size=1, max_size=40
    ),
    nparts=st.integers(1, 7),
)
@settings(**SETTINGS)
def test_dsum_invariant_under_repartitioning(spark, values, nparts):
    """The decimal accumulator returns the identical double no matter
    how rows are distributed — the property every oracle hash relies
    on. (Plain float sum would fail this for adversarial magnitudes.)"""
    from big_data_projects_spark.operators.relational import dsum

    df = spark.createDataFrame([(v,) for v in values], "v double")
    a = df.coalesce(1).agg(dsum("v", "s")).collect()[0]["s"]
    b = df.repartition(nparts).agg(dsum("v", "s")).collect()[0]["s"]
    assert a == b


edges_strategy = st.lists(
    st.tuples(st.integers(1, 8), st.integers(1, 8)),
    min_size=1,
    max_size=16,
)


@given(edges=edges_strategy)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_triangle_count_matches_bruteforce(spark, edges):
    """Triangle count equals the brute-force enumeration over all node
    triples for arbitrary small graphs (dups, self-loops, both edge
    directions included by the generator)."""
    import itertools

    from big_data_projects_spark.operators.graph import triangle_count

    df = spark.createDataFrame(edges, ["src", "dst"])
    row = triangle_count(df).collect()[0]
    eset = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = sorted({n for e in eset for n in e})
    expected = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in eset and (b, c) in eset and (a, c) in eset
    )
    assert row["n_triangles"] == expected
    assert row["n_edges"] == len(eset)
    assert row["n_nodes"] == len(nodes)


@given(edges=edges_strategy)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_matches_union_find(spark, edges):
    """Component labels equal a driver-side union-find's min-node
    labels for arbitrary small graphs."""
    from big_data_projects_spark.operators.components import (
        connected_components,
    )

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["comp"] for r in connected_components(df).collect()
    }
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    for n in parent:
        comp_min.setdefault(find(n), n)
        comp_min[find(n)] = min(comp_min[find(n)], n)
    expected = {n: comp_min[find(n)] for n in parent}
    assert got == expected


@given(
    st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=60),
    st.integers(min_value=8, max_value=64),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sequence_packing_partitions_the_token_stream(spark, lens, budget):
    """Packing invariants for any doc-length sequence and budget:
    every doc lands in exactly one bin, bin ids are the dense prefix
    0..max, and each bin's docs start inside the bin's token range —
    i.e. the sharded prefix-sum reproduces the sequential greedy
    packing exactly."""
    from pyspark.sql import Window

    rows = [(i, n) for i, n in enumerate(lens)]
    t = spark.createDataFrame(rows, ["doc_id", "n"]).withColumn(
        "shard", F.expr("doc_id div 4")
    )
    w_intra = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = t.withColumn("sis", F.sum("n").over(w_intra) - F.col("n"))
    totals = t.groupBy("shard").agg(F.sum("n").alias("tot"))
    w_off = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "shard", F.coalesce(F.sum("tot").over(w_off), F.lit(0)).alias("off")
    )
    placed = (
        intra.join(offsets, "shard")
        .withColumn("start", F.col("sis") + F.col("off"))
        .withColumn("bin", F.expr(f"start div {budget}"))
        .collect()
    )
    # Sequential reference implementation.
    expected = {}
    cum = 0
    for i, n in enumerate(lens):
        expected[i] = cum // budget
        cum += n
    got = {r["doc_id"]: r["bin"] for r in placed}
    assert got == expected


def test_new_window_operators_invariant_under_partition_count(spark):
    """Results of the hash-partitioned window/join operators added this
    round must not depend on the shuffle partition count (the thing
    that differs most between local[32] and a 1000-executor cluster)."""
    from big_data_projects_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out = {}
        for nparts in ("32", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", nparts)
            for name in ("q_prefix_dedup", "q_incremental_dedup",
                         "q_skew_stats", "q_oov_rate"):
                rows = REGISTRY[name].raw(spark, sf).collect()
                key = sorted(tuple(str(v) for v in r) for r in rows)
                out.setdefault(name, []).append(key)
        for name, (a, b) in out.items():
            assert a == b, f"{name}: result depends on partition count"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_late_round3_operators_invariant_under_partition_count(spark):
    """Same property for the late-round-3 additions: trained-PQ ANN
    (struct-min argmins + integer Lloyd stats under different shuffle
    layouts), the sharded prefix-sum shuffle/batching pair, the
    join-free skip-gram counts, and the integer PageRank fixpoint."""
    from big_data_projects_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out = {}
        for nparts in ("32", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", nparts)
            for name in ("q_knn_pq", "q_global_shuffle", "q_length_batching",
                         "q_skipgram_pairs", "q_pagerank_sim_graph",
                         "q_upsample_mix", "q_containment_pairs"):
                rows = REGISTRY[name].raw(spark, sf).collect()
                key = sorted(tuple(str(v) for v in r) for r in rows)
                out.setdefault(name, []).append(key)
        for name, (a, b) in out.items():
            assert a == b, f"{name}: result depends on partition count"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_series_sketch_operators_invariant_under_partition_count(spark):
    """Same property for the time-series/sketch/fusion family: EWMA's
    collected fold, the interpolation windows, exact-integer PSI bins,
    OLS moment sums, sketch estimates (HLL/approx_top_k/
    approx_percentile are merge-order-sensitive only if broken), and
    the RRF rank join must all be layout-independent."""
    from big_data_projects_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out = {}
        for nparts in ("32", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", nparts)
            for name in ("q_ewma", "q_interpolate_linear", "q_drift_psi",
                         "q_trend_slope", "q_hll_uniques",
                         "q_sketch_top_terms", "q_approx_percentile_bound",
                         "q_dup_span", "q_rank_fusion"):
                rows = REGISTRY[name].raw(spark, sf).collect()
                key = sorted(tuple(str(v) for v in r) for r in rows)
                out.setdefault(name, []).append(key)
        for name, (a, b) in out.items():
            assert a == b, f"{name}: result depends on partition count"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=120), min_size=1, max_size=8
    )
)
@settings(**SETTINGS)
def test_byte_dhash_property_matches_reference(spark, payloads):
    """with_dhash64's JVM expression equals the byte-level Python
    reference for ARBITRARY payloads (short, long, empty, high bytes —
    the hex/conv path must never diverge on any byte value)."""
    from big_data_projects_spark.operators.multimodal import with_dhash64

    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "id long, payload binary",
    )
    got = {
        r["id"]: r["phash"]
        for r in with_dhash64(df).select("id", "phash").collect()
    }
    for i, p in enumerate(payloads):
        g = list(p[:72]) + [0] * (72 - min(72, len(p)))
        want = "".join(
            "1" if g[r * 9 + c] < g[r * 9 + c + 1] else "0"
            for r in range(8)
            for c in range(8)
        )
        assert got[i] == want


@given(
    texts=st.lists(
        st.text(
            alphabet="ab c", min_size=3, max_size=30
        ),
        min_size=2,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_kn_bigram_probabilities_sum_below_one(spark, texts):
    """Kneser-Ney sanity on arbitrary corpora: for every left context
    w1, the summed P_KN(w2|w1) over OBSERVED followers must be ≤ 1
    (the discount reserves mass; a broken discount/continuation
    formula overshoots). Recomputed from the registered query's own
    count tables driver-side."""
    import collections
    import math

    toks_per_doc = [t.strip(" ").lower().split() for t in texts]
    toks_per_doc = [t for t in toks_per_doc if len(t) >= 2]
    if not toks_per_doc:
        return
    bi = collections.Counter()
    for t in toks_per_doc:
        for a, b in zip(t, t[1:]):
            bi[(a, b)] += 1
    cl = collections.Counter()
    n1l = collections.Counter()
    n1r = collections.Counter()
    for (a, b), c in bi.items():
        cl[a] += c
        n1l[a] += 1
        n1r[b] += 1
    tot_types = len(bi)
    for a in cl:
        s = 0.0
        for b in (w2 for (w1, w2) in bi if w1 == a):
            c_ab = bi[(a, b)]
            p = (
                max(c_ab - 0.75, 0.0)
                + (0.75 * n1l[a]) * (n1r[b] / tot_types)
            ) / cl[a]
            assert p > 0.0
            s += p
        assert s <= 1.0 + 1e-9, (a, s)
    assert math.isfinite(s)


@given(
    quality=st.lists(
        st.tuples(st.integers(0, 4), st.floats(0, 1, allow_nan=False)),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_preference_pair_margin_is_nonnegative(spark, quality):
    """For arbitrary (group, score) data the chosen/rejected argmax-
    argmin construction must yield margin ≥ 0, chosen ≠ rejected, and
    at most one pair per multi-doc group — the structural contract of
    q_preference_pairs' min-of-struct aggregates."""
    df = spark.createDataFrame(
        [(i, f"g{g}", s) for i, (g, s) in enumerate(quality)],
        "doc_id long, source string, quality_score double",
    )
    agg = df.groupBy("source").agg(
        F.min(
            F.struct(
                (-F.col("quality_score")).alias("ns"),
                F.col("doc_id").alias("id"),
            )
        ).alias("ch"),
        F.min(
            F.struct(
                F.col("quality_score").alias("s"),
                F.col("doc_id").alias("id"),
            )
        ).alias("rj"),
    )
    out = (
        agg.select(
            "source",
            F.col("ch.id").alias("chosen"),
            F.col("rj.id").alias("rejected"),
            ((-F.col("ch.ns")) - F.col("rj.s")).alias("margin"),
        )
        .where(F.col("chosen") != F.col("rejected"))
        .collect()
    )
    sizes = {
        r["source"]: r["n"]
        for r in df.groupBy("source").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    seen = set()
    for r in out:
        assert r["margin"] >= 0.0
        assert r["source"] not in seen
        seen.add(r["source"])
        assert sizes[r["source"]] >= 2


def test_curation_operators_invariant_under_partition_count(spark):
    """Partition-count invariance for the round-5/6 curation and
    evaluation family: DSIR importance weights and their ESS audit,
    quality-classifier calibration bins, annotator thresholds, pass@k
    panels, the leakage matrix's df-capped shingle join, the Jaccard
    threshold sweep, and the PII prevalence counts must not depend on
    the shuffle layout (local[32] vs a 1000-executor cluster is first
    and foremost a partition-count change)."""
    from big_data_projects_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out = {}
        for nparts in ("32", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", nparts)
            for name in ("q_dsir_weights", "q_dsir_ess",
                         "q_quality_calibration", "q_annotator_agreement",
                         "q_pass_at_k", "q_cross_source_leakage",
                         "q_dedup_threshold_sweep", "q_pii_prevalence"):
                rows_ = REGISTRY[name].raw(spark, sf).collect()
                key = sorted(tuple(str(v) for v in r) for r in rows_)
                out.setdefault(name, []).append(key)
        for name, (a, b) in out.items():
            assert a == b, f"{name}: result depends on partition count"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_aqe_toggle_invariance(spark):
    """Adaptive Query Execution must be a pure performance knob: with
    AQE disabled (no runtime coalescing, no skew-join splitting, no
    runtime join-strategy switches) every representative query must
    produce byte-identical results. Catches logic that accidentally
    depends on the runtime partition layout AQE produces (the exact
    failure mode of sharded prefix-sums and banded joins). AQE is
    pinned on by ensure_runtime_conf where a session enters the
    package, so the off-leg temporarily rewires that pin."""
    from big_data_projects_spark import session as sess
    from big_data_projects_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"
    names = ("q_flagship_star_rollup", "q_ngram_jaccard",
             "q_quality_percentile", "q_length_batching",
             "q_cross_source_leakage", "q_dedup_minhash_lsh")
    aqe_keys = ("spark.sql.adaptive.enabled",
                "spark.sql.adaptive.coalescePartitions.enabled")

    def run_all():
        got = {}
        for name in names:
            rows_ = REGISTRY[name].raw(spark, sf).collect()
            got[name] = sorted(tuple(str(v) for v in r) for r in rows_)
        return got

    saved = {k: sess._REQUIRED_RUNTIME_CONF.get(k) for k in aqe_keys}
    try:
        on = run_all()
        for k in aqe_keys:
            sess._REQUIRED_RUNTIME_CONF[k] = "false"
            spark.conf.set(k, "false")
        off = run_all()
    finally:
        for k, v in saved.items():
            sess._REQUIRED_RUNTIME_CONF[k] = v
            spark.conf.set(k, v)
    for name in names:
        assert on[name] == off[name], f"{name}: result depends on AQE"


def test_round6_continuation_ops_invariant_under_partition_count(spark):
    """Partition-count invariance for the trainer (moment sums must be
    decimal-order-free) and the funnel (char-explode aggregate + doc
    join under different layouts)."""
    from big_data_projects_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out = {}
        for nparts in ("32", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", nparts)
            for name in ("q_quality_lr_train", "q_filter_ablation",
                         "q_dedup_survivor_bias", "q_split_leakage",
                         "q_encoding_audit", "q_sft_turn_audit",
                         "q_vocab_growth", "q_code_switch_audit"):
                rows_ = REGISTRY[name].raw(spark, sf).collect()
                key = sorted(tuple(str(v) for v in r) for r in rows_)
                out.setdefault(name, []).append(key)
        for name, (a, b) in out.items():
            assert a == b, f"{name}: result depends on partition count"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_round8_ops_invariant_under_partition_count(spark):
    """Partition-count invariance for the round-8 registrations: the
    MERGE verdict/canonical assignment (min aggregates over candidate
    pairs must be layout-free) and the round-trip audit (the 8-round
    argmax trajectory and the serving join under different layouts)."""
    from big_data_projects_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out = {}
        for nparts in ("32", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", nparts)
            for name in ("q_dedup_merge_ingest", "q_tokenizer_roundtrip",
                         # round-9 registration: in-row routing +
                         # min-agg verdicts must be layout-free too
                         "q_ivf_merge_ingest"):
                rows_ = REGISTRY[name].raw(spark, sf).collect()
                key = sorted(tuple(str(v) for v in r) for r in rows_)
                out.setdefault(name, []).append(key)
        for name, (a, b) in out.items():
            assert a == b, f"{name}: result depends on partition count"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
