"""Similarity search over an embedding column (array<float>).

- cosine_sim_total : JVM-side higher-order-function fold — sequential
                 double accumulation, bit-identical to DuckDB's
                 list_dot_product/list_cosine_similarity on DOUBLE[]
                 (verified empirically), so results hash-match oracles;
                 NULL, not an error, for a zero-norm vector.
- topk_cosine  : brute-force top-k against one query vector. The
                 baseline; a broadcast of the query side + one pass.
- blocked_neardup_pairs : all pairs above a cosine threshold *within a
                 blocking key* (e.g. a cluster/label column) — the
                 exact-verify shape used after any ANN blocking.
- ivf_topk     : IVF-style two-stage search — centroid per partition
                 (label), probe the closest n_probe partitions only.
                 The 100 TB path: the fine search touches only probed
                 partitions (partition pruning on the block key).
- lsh_neardup_pairs : random-hyperplane signature bucketing → candidate
                 pairs → exact cosine verify. Fully join-based; the
                 signature width scales with corpus size so buckets
                 stay bounded (recall pinned by unit test).
- kmeans_assign: distributed Lloyd k-means with deterministic
                 k-means‖-style oversampled seeding (O(1) scans, not
                 O(k)) — builds the IVF partitioning when no natural
                 block key exists.

No Python in the similarity hot loop outside batch_topk_matmul: folds
are Catalyst higher-order functions — the sequential fold is what makes
signs/sims reproduce bit-for-bit in the DuckDB oracles (a matmul
reorders additions, so a near-zero dot can flip sign cross-engine).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_projects_spark.data import spread_small_scan


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _idot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two integer arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def cosine_sim_total(a: Column, b: Column) -> Column:
    """Cosine similarity with a TOTAL division: NULL (not an ANSI-mode
    abort, not NaN) when either vector has zero norm. Consumers that
    rank or threshold similarities use this so degenerate vectors
    compare as nothing-is-near rather than erroring: NULL fails
    every `>= threshold` filter, and Spark's DESC ordering puts NULL
    last so it falls out of any top-k."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def topk_cosine(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the single query row, one
    scan of the corpus, global top-k via orderBy+limit (Spark plans
    TakeOrderedAndProject — per-partition heaps, no full sort)."""
    q = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv"), _norm(F.col(vec_col)).alias("__qn")
    )
    # Precompute each row's norm once (same float op sequence as the
    # naive dot/(|a||b|) form → results stay bit-identical, at 1/3 the
    # arithmetic per pair).
    scored = (
        emb.filter(F.col(id_col) != query_id)
        .withColumn("__n", _norm(F.col(vec_col)))
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.try_divide(
                _dot(F.col(vec_col), F.col("__qv")), F.col("__n") * F.col("__qn")
            ).alias("sim"),
        )
    )
    return scored.orderBy(F.col("sim").desc(), F.col(id_col)).limit(k)


def blocked_neardup_pairs(
    emb: DataFrame,
    block_col: str = "label",
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All (a, b, sim) with sim ≥ threshold and a < b, within blocks.

    The block key bounds the pair blow-up: the self-join is an
    equi-join on block_col, so each block's pairs stay in one task.
    """
    # Norms computed once per row, not once per pair (bit-identical to
    # the naive form — same operand sequence — at ~1/3 the flops).
    a = emb.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        _norm(F.col(vec_col)).alias("__na"),
    )
    b = emb.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        _norm(F.col(vec_col)).alias("__nb"),
    )
    return (
        a.join(b, "__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.try_divide(
                _dot(F.col("__va"), F.col("__vb")), F.col("__na") * F.col("__nb")
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


# Recall at similarity s follows the LSH S-curve 1-(1-p^bits)^bands,
# p = 1 - acos(s)/pi: with 8-bit bands, 6 bands hold recall >= 0.85
# for s >= 0.9 (measured 0.92 at 10x corpus — the near-dup regime the
# operator is FOR) while recall at s ~ 0.3 is intentionally low: catching
# low-similarity pairs with LSH requires ~100 bands or near-quadratic
# bucket occupancy; route those workloads through kmeans/semdedup
# blocking instead. Pinned by test_lsh_neardup_recall_at_10x_corpus.
DEFAULT_LSH_BANDS = 6
# Bucket-occupancy target used when bits_per_band is derived from the
# corpus size: E[bucket size] = n / 2^bits ≤ this, so within-bucket
# verify work stays ~linear in n instead of quadratic.
_LSH_TARGET_BUCKET = 64
_LSH_MIN_BITS, _LSH_MAX_BITS = 8, 24



def part_centroids(
    emb: DataFrame, part_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """One centroid row per partition key: the elementwise mean of the
    partition's vectors, computed distributively (posexplode →
    groupBy(part, pos) → decimal-accumulated mean → re-assembled in pos
    order).  Decimal accumulation makes the means identical under any
    partitioning/merge order, so consumers hash-match SQL oracles.
    Output is k rows (control-plane sized) — always broadcastable."""
    return (
        emb.select(F.col(part_col), F.posexplode(vec_col).alias("pos", "v"))
        .groupBy(part_col, "pos")
        .agg(
            (
                F.sum(F.col("v").cast("double").cast("decimal(38,10)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .groupBy(part_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            part_col,
            F.expr("transform(pm, x -> x.m)").alias("centroid"),
        )
    )


def ivf_merge_ingest(
    emb: DataFrame,
    batch_flag,
    dim: int,
    n_probe: int = 2,
    threshold: float = 0.3,
    bits_per_band: int | None = None,
    n_bands: int = DEFAULT_LSH_BANDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    part_col: str = "label",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """MERGE an incoming vector batch into an existing IVF index
    WITHOUT retraining — the vector-side twin of
    dedup.minhash_merge_ingest (the corpus-that-grows decision, on the
    embedding column): route each new vector to its nearest existing
    cell, find verified near-dup candidates inside its ``n_probe``
    closest cells, and verdict it before it joins the index.

    ``batch_flag`` maps the id Column to a boolean Column (True =
    incoming-batch row), id-derivable so the split applies anywhere
    without an extra join.

    The index is FROZEN at ingest time: cell centroids are computed
    from CORPUS vectors only (per-cell decimal-accumulated elementwise
    means — the ivf_topk coarse stage), exactly what "inserting into an
    already-trained IVF index" means.  Earlier batch vectors (smaller
    id) count as already inserted AT THEIR ROUTED CELL, so a batch is
    internally deduped in id order, matching the dedup MERGE contract.

    Candidate generation is (cell ∧ LSH bucket), NOT cell alone: a
    probed cell's whole occupancy as the candidate set is quadratic
    whenever cell count doesn't grow with the corpus (the round-9
    scale smoke measured 209× wall at 30× data for the cell-only
    variant on the fixed-10-label corpus).  Inside each probed cell,
    candidates must also share one of ``n_bands`` sign-hyperplane
    band buckets (the q_embed_lsh_neardup / hard_negatives_ann
    machinery, same seeded planes), then exact cosine ≥ ``threshold``
    verifies.  Matching = LSH-candidate + verified, the same contract
    as the dedup twin (banded-LSH candidates + exact-Jaccard verify);
    recall follows the band S-curve — high in the near-dup regime the
    gate is for, deliberately low near orthogonality.  The signature
    width SCALES WITH CORPUS SIZE BY DEFAULT:
    ``bits_per_band=None`` derives ``lsh_bits_for(count(emb))`` —
    one count() action, control-plane at index-build cadence — so
    band-bucket occupancy stays ~constant as the corpus grows.  A
    pinned width is opt-in (pass the int) and exists for
    oracle-static cross-engine checks: pinned occupancy grows ∝ n —
    measured r11, the pinned-8-bit candidate-verify spill exceeded an
    entire 252 GB disk at 600k vectors (M=300 smoke), while the
    scaled width ran the same merge in 35 s (5.0× wall for 300× data;
    2.9× at M=100 — faster than the pinned width's own 17.7× there).

    Returns one row per batch vector: (id, cell, verdict, canonical_id)
    with cell = the routed (top-1) cell, verdict in {'dup_of_corpus',
    'dup_in_batch', 'new'} and canonical_id = the smallest verified
    match (corpus matches take precedence), else NULL.

    Scale shape: centroids are k rows (control-plane) → packed into
    ONE broadcast row; routing is ranked IN-ROW (array_sort over
    struct(-csim, cell), the kmeans_assign in-row-argmin pattern —
    exact vs the window it replaced for FINITE similarities;
    degenerate csims from zero-norm vectors/centroids (NaN) or NULL
    operands are pinned to -inf so they deterministically rank last)
    so the batch is never shuffled for it; band signatures are in-row
    projections; every candidate join is a (cell, band, bucket)
    equi-join with the BATCH on one side (candidate mass bounded by
    batch size × bands × bucket occupancy, never a corpus self-join);
    the verify touches distinct candidate pairs only; the output is
    batch-sized.  At 100 TB the centroid relation would be the stored
    index metadata — this operator recomputes it from the unified
    table so the whole decision is reproducible from one input; the
    join shape is identical either way.

    Caching contract (same as minhash_merge_ingest): the signed batch
    and routed relations each feed several consumers so they are
    persisted for the duration of the computation; long-lived sessions
    composing many calls should ``spark.catalog.clearCache()`` between
    them.
    """
    is_batch = batch_flag(F.col(id_col))
    corpus = emb.filter(~is_batch)
    batch = emb.filter(is_batch)

    if bits_per_band is None:
        # Scale-safe default: derive the width from the corpus size so
        # bucket occupancy holds as the index grows (the r11 M=300
        # probe measured the pinned width spilling past a 252 GB disk).
        # Callers holding the count — or needing oracle-static buckets —
        # pass an explicit width.
        bits_per_band = lsh_bits_for(emb.count())

    # The routing codebook: frozen corpus-trained centroids by default;
    # injectable (``centroids``) for callers holding a precomputed
    # index-metadata relation — or, in tests, a retrained one to
    # compare freeze-vs-rebuild recall.
    if centroids is None:
        centroids = part_centroids(corpus, part_col=part_col, vec_col=vec_col)

    sigs = band_signature_cols(dim, bits_per_band, n_bands, vec_col=vec_col)
    # One in-row signature projection per batch vector, shared by the
    # routing, both candidate sides, and the verify.
    batch_sig = batch.select(id_col, vec_col, *sigs).persist()
    bucket_explode = F.posexplode(
        F.array(*[F.col(f"b{j}") for j in range(n_bands)])
    ).alias("band", "bucket")

    # Coarse routing: rank the k frozen centroids per batch vector
    # (csim desc, cell asc) — rn=1 is where the vector is inserted,
    # rn<=n_probe are the cells probed for near-dups.  The k centroids
    # are packed into ONE broadcast row (array_sort(collect_list) — a
    # k-row control-plane aggregate, no driver collect) and the ranking
    # is computed IN-ROW: struct(-csim, cell) ascending reproduces
    # (csim desc, cell asc) exactly for FINITE csims (IEEE negation is
    # sign-flip-exact, ±0.0 order flips symmetrically; NaN/NULL csims
    # are pinned to -inf below), so the probe set matches the batch×k
    # crossJoin + per-id row_number window this replaces —
    # which shuffled a batch-sized relation for an argmin over k rows
    # that never needed to leave the scan task (the kmeans_assign
    # in-row-argmin pattern).
    packed = centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(part_col).alias("cell"), F.col("centroid"))
            )
        ).alias("__cents")
    )
    vec = F.col(vec_col)
    # Degenerate-similarity guard: cosine to a
    # zero-norm vector or centroid divides by zero — an ANSI-mode
    # runtime abort (Spark 4 default), or NaN under legacy semantics,
    # where the window this replaces ranked NaN FIRST (largest double
    # under csim DESC) while struct(-csim) ASC ranks it last.  None of
    # those behaviors is meaningful — a zero-norm vector is near
    # NOTHING under cosine — so the routing division is made TOTAL
    # (try_divide: NULL on /0, bit-identical to `/` otherwise) and
    # degenerate csims (NULL or NaN) are pinned to -inf: they
    # deterministically rank LAST, with the cell-asc tiebreak keeping
    # the route well-defined even when every similarity is degenerate.
    # For finite similarities the in-row ranking is exact vs the
    # replaced window (IEEE negation is sign-flip-exact, ±0.0 order
    # flips symmetrically).
    neg_inf = F.lit(float("-inf"))

    def _guarded_sim(c):
        return F.coalesce(
            F.nanvl(cosine_sim_total(c["centroid"], vec), neg_inf), neg_inf
        )

    scored = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            (-_guarded_sim(c)).alias("negsim"),
            c["cell"].alias("cell"),
        ),
    )
    routes = (
        batch_sig.select(id_col, vec_col)
        .crossJoin(F.broadcast(packed))
        .select(
            id_col,
            F.posexplode(F.slice(F.array_sort(scored), 1, n_probe)).alias(
                "__pos", "__rc"
            ),
        )
        .select(
            id_col,
            F.col("__rc.cell").alias(part_col),
            (F.col("__pos") + 1).alias("rn"),
        )
        .persist()
    )
    batch_bands = batch_sig.select(id_col, bucket_explode)
    # Probed (cell, band, bucket) keys per batch vector — the batch
    # side of every candidate join.
    probed = (
        routes.join(batch_bands, id_col)
        .select(F.col(id_col).alias("__b_id"), part_col, "band", "bucket")
    )
    # The corpus-side sign folds are interpreted HOF work in the scan
    # stage — single-threaded on a one-row-group testdata scan; spread
    # the rows across cores first (no-op at real scale — see
    # data.spread_small_scan; r12 optimization).
    corpus_bands = (
        spread_small_scan(corpus.select(id_col, part_col, vec_col))
        .select(id_col, part_col, *sigs)
        .select(F.col(id_col).alias("__o_id"), part_col, bucket_explode)
    )
    # Earlier batch vectors live at their ROUTED cell (rn=1) once
    # inserted — that relation is the batch side of the within-batch
    # check.
    within_bands = (
        routes.filter(F.col("rn") == 1)
        .join(batch_bands, id_col)
        .select(F.col(id_col).alias("__o_id"), part_col, "band", "bucket")
    )
    cand = (
        probed.join(corpus_bands, [part_col, "band", "bucket"])
        .select("__b_id", "__o_id")
        .distinct()
        .withColumn("__vs_corpus", F.lit(True))
        .unionByName(
            probed.join(within_bands, [part_col, "band", "bucket"])
            .filter(F.col("__o_id") < F.col("__b_id"))
            .select("__b_id", "__o_id")
            .distinct()
            .withColumn("__vs_corpus", F.lit(False))
        )
    )
    # Exact-cosine verify over distinct candidate pairs only.
    b_vecs = batch_sig.select(
        F.col(id_col).alias("__b_id"), F.col(vec_col).alias("__b_v")
    )
    o_vecs = corpus.select(id_col, vec_col).unionByName(
        batch_sig.select(id_col, vec_col)
    ).select(F.col(id_col).alias("__o_id"), F.col(vec_col).alias("__o_v"))
    # The verify division is total for the same reason as the routing:
    # a candidate pair involving a zero-norm vector yields NULL (not an
    # ANSI abort), and NULL >= threshold filters it out — a zero-norm
    # vector matches nothing.
    verified = (
        cand.join(b_vecs, "__b_id")
        .join(o_vecs, "__o_id")
        .filter(cosine_sim_total(F.col("__b_v"), F.col("__o_v")) >= threshold)
        .select("__b_id", "__o_id", "__vs_corpus")
    )
    best = verified.groupBy("__b_id").agg(
        F.min(
            F.when(F.col("__vs_corpus"), F.col("__o_id"))
        ).alias("__corpus_min"),
        F.min(
            F.when(~F.col("__vs_corpus"), F.col("__o_id"))
        ).alias("__batch_min"),
    )
    routed = routes.filter(F.col("rn") == 1).select(
        id_col, F.col(part_col).alias("cell")
    )
    return (
        routed.join(best, F.col(id_col) == F.col("__b_id"), "left")
        .select(
            id_col,
            "cell",
            F.when(
                F.col("__corpus_min").isNotNull(), F.lit("dup_of_corpus")
            )
            .when(F.col("__batch_min").isNotNull(), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce("__corpus_min", "__batch_min").alias("canonical_id"),
        )
    )


def ivf_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    part_col: str = "label",
) -> DataFrame:
    """IVF two-stage search: coarse (query vs per-partition centroids)
    then fine (scan only the n_probe closest partitions).

    Centroids are elementwise means computed distributively
    (posexplode → groupBy(part, pos) → decimal-accumulated mean — the
    merge-exact pattern shared with q_embed_outliers, so the means are
    identical under any partitioning and the WHOLE search, probe
    selection included, hash-matches its SQL oracle).
    """
    q = emb.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("__qv"))

    centroids = part_centroids(emb, part_col=part_col, vec_col=vec_col)
    probed = (
        centroids.crossJoin(F.broadcast(q))
        .select(part_col, cosine_sim_total(F.col("centroid"), F.col("__qv")).alias("csim"))
        .orderBy(F.col("csim").desc(), F.col(part_col))
        .limit(n_probe)
        .select(part_col)
    )
    fine = (
        emb.join(F.broadcast(probed), part_col)
        .filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), cosine_sim_total(F.col(vec_col), F.col("__qv")).alias("sim"))
    )
    return fine.orderBy(F.col("sim").desc(), F.col(id_col)).limit(k)


def _hyperplanes(dim: int, n: int) -> list[list[float]]:
    rng = random.Random(7)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n)]


def lsh_bits_for(n_rows: int) -> int:
    """Signature bits per band scaled to corpus size: smallest b with
    n / 2^b ≤ the target bucket occupancy, clamped to [8, 24]."""
    b = _LSH_MIN_BITS
    while (1 << b) * _LSH_TARGET_BUCKET < n_rows and b < _LSH_MAX_BITS:
        b += 1
    return b


def _plane_dot(vec_col: str, p: list[float]) -> str:
    """SQL text of the dot product of ``vec_col`` with the literal
    plane ``p``: the zip_with/aggregate sequential double fold.

    One parsed SQL expression, not nested Column ops: the Column route
    pushed one F.lit() per weight through py4j (~8k driver round
    trips, ~6 s of plan construction, for the 64×8×16 LSH default).
    Weights render as CAST('<repr>' AS DOUBLE) — the string-parse the
    DuckDB oracle twins use for these planes ('<repr>'::DOUBLE) — so
    the parsed doubles are bit-identical to py4j literals."""
    vals = ", ".join(f"CAST('{w!r}' AS DOUBLE)" for w in p)
    return (
        f"aggregate(zip_with({vec_col}, array({vals}), "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def band_signature_cols(
    dim: int, bits_per_band: int, n_bands: int, vec_col: str = "embedding"
) -> list[Column]:
    """The per-band sign-signature columns (b0..b{n_bands-1}) shared by
    every LSH consumer: bit i of band j is sign(v · plane_{j*bits+i}),
    packed into an int bucket key. Deterministic planes (seeded rng),
    so retried tasks and the DuckDB oracle reproduce identical buckets."""
    planes = _hyperplanes(dim, bits_per_band * n_bands)
    # ONE parsed SQL expression per band (see _plane_dot); the sign
    # test is CASE WHEN > 0, the bit packing an integer weighted sum.
    return [
        F.expr(
            " + ".join(
                f"(CASE WHEN {_plane_dot(vec_col, p)} > 0 THEN {1 << i} ELSE 0 END)"
                for i, p in enumerate(
                    planes[band * bits_per_band : (band + 1) * bits_per_band]
                )
            )
        ).alias(f"b{band}")
        for band in range(n_bands)
    ]


def lsh_neardup_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits_per_band: int | None = None,
    n_bands: int = DEFAULT_LSH_BANDS,
) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs: per-band sign signatures →
    bucket equi-joins for candidates → exact cosine verification.

    The signatures are band_signature_cols selected next to (id, vec),
    as in ivf_merge_ingest and hard_negatives_ann: the sequential JVM
    fold, so buckets reproduce bit-for-bit in the DuckDB oracle.

    Scale contract: within-bucket pair work grows with (bucket size)²,
    so the signature width must grow with the corpus — ``bits_per_band``
    defaults to the smallest width whose expected bucket occupancy
    (n / 2^bits) stays ≤ 64 (one cheap count() action to size it;
    pass it explicitly to keep the plan fully lazy). Recall comes from
    ``n_bands`` independent bands (a pair is a candidate if ANY band
    matches) and follows the LSH S-curve — see DEFAULT_LSH_BANDS:
    recall ≥ 0.85 for sim ≥ 0.9 pairs is pinned at 10x corpus by
    tests/test_operators_unit.py against exact brute-force pairs;
    low-similarity pairs are intentionally below the curve's knee.

    Shuffle-mass contract (r12 — found by the M=300 smoke): the band
    joins and the cross-band pair dedupe move SKINNY (id_a, id_b)
    rows only; the embedding vectors are attached AFTER the distinct,
    by two id-keyed joins, so each vector crosses the verify join
    once per distinct pair side instead of riding every per-band
    candidate row through the dedupe sort.  The earlier wide shape
    (vectors on the candidate rows) spilled past this box's entire
    disk at 600k vectors even at the SCALED width — candidate volume
    ≈ n·occupancy/2·bands rows × ~0.5 KB of vector payload — while
    the skinny shape's dedupe shuffles 16-byte rows (~30× less) and
    its vector-attach joins move the corpus a bounded 2× more.
    Output is identical: same distinct pair set, same sequential-fold
    cosines, same threshold — the oracle contract is unchanged.

    ``id_col`` must be UNIQUE per row (every caller in this repo feeds
    a keyed embeddings relation).  On duplicated ids the two shapes
    degenerate differently — the old one kept ONE arbitrary copy's sim
    per pair (nondeterministic under retry), this one emits a row per
    id-copy combination through the attach joins — and neither is a
    meaningful near-dup result: dedupe ids upstream, don't rely on
    either behavior.

    Beyond single-box scratch (the r12 M=1000 ledger bounds the
    remaining verify-attach shuffle at ~candidates × vector bytes —
    ~200 GB at 2M synthetic vectors): the production strategies are
    (a) two-sided bucketing of the signature relation on the id key,
    so both attach joins co-locate without reshuffling the pair×vector
    stream, and (b) a quantized (int8) prefilter attach — ~2.5× less
    verify mass with a provable cosine error bound (≤ (2·√dim)/254 +
    dim/254² for round-to-nearest per-dim quantization of the
    L2-normalized vector), exact float rescore on survivors only.
    Neither changes the emitted pairs; neither is needed at any scale
    this box can hold, so both stay documented-not-shipped.
    """
    if bits_per_band is None:
        bits_per_band = lsh_bits_for(emb.count())
    # Every band contributes two join-side consumers of sig, and the
    # verify re-reads the (id, vec) projection; without persist the
    # signature projection (bits_per_band × n_bands plane dots per
    # row) recomputes once per consumer.
    sig = emb.select(
        F.col(id_col),
        F.col(vec_col),
        *band_signature_cols(dim, bits_per_band, n_bands, vec_col),
    ).persist()
    cands = None
    for band in range(n_bands):
        a = sig.select(
            F.col(id_col).alias("id_a"),
            F.col(f"b{band}").alias("__k"),
        )
        b = sig.select(
            F.col(id_col).alias("id_b"),
            F.col(f"b{band}").alias("__k"),
        )
        c = (
            a.join(b, "__k")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cands = c if cands is None else cands.unionByName(c)
    pairs = cands.dropDuplicates(["id_a", "id_b"])
    va = sig.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = sig.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine_sim_total(F.col("__va"), F.col("__vb")).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def _sq_dist(a: str, b: str) -> str:
    """SQL text of the squared L2 distance between two array<double>
    expressions: the sequential zip_with/aggregate double fold every
    k-means distance uses, so ties and argmins are bit-stable."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "0.0D, (acc, x) -> acc + x)"
    )


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed k-means (Lloyd) in pure DataFrame ops — the honest
    coarse quantizer for an IVF index (ivf_topk partitions by an
    existing label; this builds the partitioning when none exists).

    - init: deterministic k-means‖-style oversampled seeding (Bahmani
      et al., VLDB 2012) — a FIXED number of scans regardless of k:
      first seed = smallest xxhash64(id); then ``seed_rounds`` rounds
      each hash-bucket the corpus into ~4k buckets and take the point
      farthest from the current seed set per bucket (one scan per
      round, ≤4k candidates each, spread by the hash blocking); then
      one scan weights every candidate by the number of points nearest
      to it; finally a driver-side weighted greedy k-center pass over
      the ≤(8k+1)-row candidate table picks the k seeds. No rand()
      anywhere (hash buckets + deterministic argmax with id tiebreak) —
      retried stages reproduce identical seeds, and the seed phase is
      O(1) full-corpus scans where farthest-first traversal was O(k).
    - distances are computed IN-ROW against the candidate/centroid set,
      attached to every row as a broadcast one-row frame (the set is
      driver-small and bounded by construction: ≤ 8k+1 candidates,
      exactly ≤ k centroids): ``array_min(zip_with(set, ids, (c, i) →
      struct(d, i)))`` — the per-row argmin never leaves the scan
      task, so there is NO corpus×k crossJoin, no groupBy keyed on the
      vector column, and no per-id window shuffle anywhere in the
      operator. Lexicographic
      struct ordering reproduces the old (distance, id) tie-break
      exactly, and the same zip_with/aggregate double fold keeps the
      arithmetic bit-identical.
    - update: per-cluster per-position decimal means as ``dim``
      map-side-combined aggregate columns over element_at — one narrow
      k-row shuffle per iteration (the posexplode version shuffled
      n×dim rows).
    - n_iter is fixed (no convergence probe). Each iteration collects
      the ≤k×dim centroid table to the driver (the PQ-training bounded-
      actions pattern, similarity.py pq_topk): ~n_iter+4 collects of
      ≤(8k+1) rows total, independent of corpus size. The per-row
      assign scan dominates at 100 TB and is a pure map stage.

    Returns (id, cluster) assignments.
    """
    # The distance argmin is a higher-order-function fold — interpreted,
    # not codegen'd — so its wall scales with rows-per-task. A small
    # single-file scan (the sf0.1 bench: one parquet row-group, ONE
    # partition) would run the whole corpus single-threaded; spread it
    # once before the persist. Gated: a 100 TB scan already has
    # thousands of partitions, so this never adds a shuffle at scale.
    # Spread the RAW (id, vec) projection and cast to double AFTER the
    # exchange (r12 optimization): with the cast under the repartition
    # the float→double transform of every vector ran single-threaded
    # in the one-partition scan task, and the shuffle carried 8-byte
    # doubles instead of the stored 4-byte floats (2× the bytes).
    # Element order within each vector is untouched, so every
    # downstream fold is bit-identical.
    narrow = spread_small_scan(emb.select(F.col(id_col).alias("__id"), F.col(vec_col)))
    vecs = narrow.select(
        "__id",
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("__v"),
    ).persist()

    spark = vecs.sparkSession
    n_buckets = 4 * k
    seed_rounds = 2

    # Seed 0: smallest hash — one scan.
    cands = (
        vecs.withColumn("__h", F.xxhash64("__id"))
        .orderBy("__h", "__id")
        .limit(1)
        .select("__id", "__v")
        .collect()
    )
    def _with_set(df, vec_lists, ids, ids_type="bigint"):
        # Attach the candidate/centroid set — driver-small by
        # construction (≤ 8k+1 rows) — to every row as TWO array
        # columns via a one-row broadcast crossJoin. This keeps the
        # argmin fully in-row (no corpus×k join rows, no per-id
        # shuffle) while the set itself ships as broadcast DATA:
        # building it as a literal expression tree (array(lit(x)…),
        # which is also what classic lit(list) expands to) put ~4k
        # nodes through py4j + Catalyst per scan and measurably walled
        # the driver (~6 s/query at sf0.1, independent of corpus size).
        one = df.sparkSession.createDataFrame(
            [(
                [[float(x) for x in v] for v in vec_lists],
                [int(i) for i in ids],
            )],
            f"__cv array<array<double>>, __cids array<{ids_type}>",
        )
        return df.crossJoin(F.broadcast(one))

    def _nearest_id(field: str) -> Column:
        # Per-row argmin over the attached set: lexicographic array_min
        # on struct(d, id) = min distance, smallest id on ties.
        return F.expr(
            f"array_min(zip_with(__cv, __cids, (c, i) -> "
            f"struct({_sq_dist('__v', 'c')} AS d, i AS {field}))).{field}"
        )

    # Oversampling rounds: per hash-bucket farthest point from the
    # current candidate set — one scan per round, candidates stay
    # driver-small (≤ n_buckets per round) by construction. The
    # per-row min-distance is in-row (array_min over the attached
    # candidate set); the bucket argmax is a map-side-combined max_by on
    # (dmin, -id) — max distance, smallest id on ties, identical to
    # the former row_number(dmin DESC, id) window without its shuffle.
    for rnd in range(1, seed_rounds + 1):
        dmin_col = F.expr(f"array_min(transform(__cv, c -> {_sq_dist('__v', 'c')}))")
        picked = (
            _with_set(
                vecs, [r["__v"] for r in cands], [r["__id"] for r in cands]
            )
            .select("__id", "__v", dmin_col.alias("__dmin"))
            .filter(F.col("__dmin") > 0)
            .withColumn(
                "__bkt", F.pmod(F.xxhash64(F.col("__id"), F.lit(rnd)), F.lit(n_buckets))
            )
            .groupBy("__bkt")
            .agg(
                F.max_by(
                    F.struct("__id", "__v"),
                    F.struct(
                        F.col("__dmin").alias("d"), (-F.col("__id")).alias("ni")
                    ),
                ).alias("p")
            )
            .select("p.__id", "p.__v")
            .collect()
        )
        seen = {r["__id"] for r in cands}
        cands.extend(r for r in picked if r["__id"] not in seen)
    # Weight candidates by attraction (points nearest to each) — one
    # scan, nearest-candidate argmin in-row via lexicographic
    # array_min on struct(d, cid) (min distance, smallest cid on ties
    # — the former per-point window's exact ordering) — then reduce to
    # k seeds with a driver-side weighted greedy k-center pass over
    # the tiny candidate table.
    weights = {
        r["__cid"]: r["w"]
        for r in (
            _with_set(
                vecs, [r["__v"] for r in cands], [r["__id"] for r in cands]
            )
            .select(_nearest_id("cid").alias("__cid"))
            .groupBy("__cid")
            .agg(F.count(F.lit(1)).alias("w"))
            .collect()
        )
    }

    # Incremental greedy k-center over the candidate table: dmin (each
    # candidate's distance to its nearest chosen seed) is maintained
    # and updated against ONLY the newly chosen seed — O(m·k·dim)
    # numpy total where the naive re-scan was O(m·k²·dim) in Python
    # (the latter was the measured superlinear wall when k grows with
    # the corpus).
    import numpy as np

    cmat = np.array([r["__v"] for r in cands], dtype=np.float64)
    wvec = np.array(
        [weights.get(r["__id"], 0) for r in cands], dtype=np.float64
    )
    cand_ids = [r["__id"] for r in cands]
    order = [0]
    chosen_idx = {0}
    dmin = ((cmat - cmat[0]) ** 2).sum(axis=1)
    while len(order) < k:
        best_j, best_key = None, None
        for j in range(len(cand_ids)):
            if j in chosen_idx or dmin[j] <= 0:
                continue
            key = (wvec[j] * dmin[j], dmin[j], -cand_ids[j])
            if best_key is None or key > best_key:
                best_j, best_key = j, key
        if best_j is None:  # fewer distinct points than k
            break
        order.append(best_j)
        chosen_idx.add(best_j)
        dmin = np.minimum(dmin, ((cmat - cmat[best_j]) ** 2).sum(axis=1))
    chosen = [cands[j] for j in order]
    cent = [(i + 1, [float(x) for x in r["__v"]]) for i, r in enumerate(chosen)]
    dim = len(cent[0][1]) if cent else 0

    def _assigned(df, cent_rows):
        # Per-row argmin over the ≤k centroid set: lexicographic
        # array_min on struct(d, cluster) = min distance, smallest
        # cluster on ties — the former per-id window's exact ordering,
        # computed entirely inside the scan task (no shuffle). The int
        # ids_type keeps the cluster column's former createDataFrame
        # schema (`cluster int`) for every downstream consumer.
        return _with_set(
            df, [v for _, v in cent_rows], [c for c, _ in cent_rows], "int"
        ).select("__id", "__v", _nearest_id("cluster").alias("cluster"))

    # Lloyd: assign in-row, update as dim map-side-combined decimal
    # means (same sum(decimal)/count arithmetic as the former
    # posexplode shape — decimal accumulation is order-independent, so
    # the collected centroids are bit-identical), collect the ≤k×dim
    # table, iterate. Empty clusters drop out of the groupBy exactly
    # as they dropped out of the posexplode version. One SQL-text
    # aggregate per position (README builder idiom).
    mean_aggs = [
        F.expr(
            f"CAST(sum(CAST(element_at(__v, {i + 1}) AS DECIMAL(38,10))) AS DOUBLE)"
            f" / count(1) AS m{i}"
        )
        for i in range(dim)
    ]
    for _ in range(n_iter):
        rows = (
            _assigned(vecs, cent)
            .groupBy("cluster")
            .agg(*mean_aggs)
            .collect()
        )
        cent = sorted(
            (int(r["cluster"]), [float(r[f"m{i}"]) for i in range(dim)])
            for r in rows
        )
    return _assigned(vecs, cent).select(
        F.col("__id").alias(id_col), "cluster"
    )


def hierarchical_kmeans_assign(
    emb: DataFrame,
    k: int,
    branch: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hierarchical (multi-level) k-means blocking: ``depth =
    ceil(log_branch(k))`` levels of branch-way Lloyd, each level
    scoped to its parent cluster. The scale fix for k ∝ n blocking:
    flat k-means assignment is O(n·k) work — quadratic in the corpus
    when k grows with it (measured 75x wall at 10x corpus in
    tools/scale_smoke.py before this) — while the hierarchy does
    O(n·branch) per level, O(n·branch·log k) total.

    Per level, everything is joins and aggregations:
    - seeds: each parent picks ≤ branch rows by min-xxhash64 per
      (parent, hash-bucket) via min_by — a plain groupBy, never a
      global or single-partition window;
    - assign: rows equi-join their parent's ≤ branch seeds (shuffle on
      the parent key, never a corpus × k product), per-row argmin of
      squared L2 by a window partitioned by row id;
    - update: per-(parent, sub, position) decimal means, posexplode →
      groupBy — the merge-exact pattern shared with kmeans_assign.
    localCheckpoint truncates lineage per level so depth never
    compounds the plan. Returns (id, cluster), cluster =
    path-encoded leaf id; leaves number ≤ branch^depth (parents with
    fewer rows than branch naturally produce fewer children).
    """
    import math

    depth = max(1, math.ceil(math.log(max(k, 2)) / math.log(branch)))
    assign = emb.select(
        F.col(id_col).alias("__id"),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("__v"),
        F.lit(0).cast("long").alias("__c"),
    )
    for level in range(depth):
        # Deterministic hash seeding: bucket rows within each parent,
        # take the min-hash row per (parent, bucket) as that bucket's
        # seed. No farthest-point pass — at blocking quality the Lloyd
        # refinements dominate seeding quality anyway.
        hcol = F.xxhash64(F.col("__id"), F.lit(level))
        bucketed = assign.select(
            "__c",
            F.pmod(F.xxhash64(F.col("__id"), F.lit(level + 7919)), F.lit(branch))
            .cast("int")
            .alias("__s"),
            F.struct(hcol.alias("h"), F.col("__id").alias("i"),
                     F.col("__v").alias("v")).alias("__ord"),
        )
        seeds = (
            bucketed.groupBy("__c", "__s")
            .agg(F.min("__ord").alias("__m"))
            .select("__c", "__s", F.col("__m.v").alias("__cv"))
        )
        for _ in range(n_iter):
            scored = assign.join(seeds, "__c").select(
                "__id", "__v", "__c", "__s",
                F.expr(f"{_sq_dist('__v', '__cv')} AS __d"),
            )
            wa = Window.partitionBy("__id").orderBy("__d", "__s")
            newa = (
                scored.withColumn("__rk", F.row_number().over(wa))
                .filter(F.col("__rk") == 1)
                .select("__id", "__v", "__c", "__s")
            )
            seeds = (
                newa.select("__c", "__s", F.posexplode("__v").alias("pos", "x"))
                .groupBy("__c", "__s", "pos")
                .agg(
                    (
                        F.sum(F.col("x").cast("decimal(38,10)")).cast("double")
                        / F.count(F.lit(1))
                    ).alias("m")
                )
                .groupBy("__c", "__s")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
                .select("__c", "__s", F.expr("transform(pm, s -> s.m)").alias("__cv"))
            )
        assign = newa.select(
            "__id", "__v",
            (F.col("__c") * branch + F.col("__s")).alias("__c"),
        ).localCheckpoint(eager=True)
    return assign.select(F.col("__id").alias(id_col), F.col("__c").alias("cluster"))


def batch_topk_matmul(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine top-k for MANY queries at once: the query block (q×d,
    collected once — queries are a control-plane-sized set) broadcasts
    to an Arrow-batched mapInPandas that computes a q×batch similarity
    matrix per corpus chunk with one numpy matmul, emits each chunk's
    per-query top-k, and a final per-query window keeps the global
    top-k. For a handful of queries the JVM fold (topk_cosine) wins;
    past ~dozens of queries the matmul's arithmetic density wins —
    this is that path.

    Oracle-checkable: each vector is L2-normalized and quantized to
    int64 micro-units BEFORE the matmul — the norm's squared-sum runs through np.add.accumulate, which is the same
    left-to-right sequential fold Spark's aggregate() and DuckDB's
    list_dot_product use, so the quantized integers match both engines
    bit-for-bit — and the matmul runs in int64 (exact, order-free).
    Returns (query_id, id, dot_q BIGINT): the scaled cosine in exact
    micro²-units, hash-matchable end-to-end. Same plan, same arithmetic
    density (int64 GEMM), 1e-6 quantization on the unit sphere.
    """
    import numpy as np
    import pandas as pd

    qrows = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .collect()
    )
    qids = np.array([r[id_col] for r in qrows], dtype=np.int64)
    qmat = np.array([r[vec_col] for r in qrows], dtype=np.float64)

    def _quant(mat: "np.ndarray") -> "np.ndarray":
        # Sequential per-row squared-sum (np.add.accumulate == the
        # engines' left-to-right fold), then elementwise IEEE-identical
        # normalize + floor-quantize.
        sq = mat * mat
        norm = np.sqrt(np.add.accumulate(sq, axis=1)[:, -1])
        norm = np.maximum(norm, 1e-300)
        return np.floor(mat / norm[:, None] * 1e6 + 0.5).astype(np.int64)

    qmat_i = _quant(qmat)

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            sims = qmat_i @ _quant(mat).T  # int64 GEMM — exact
            out = {"query_id": [], id_col: [], "dot_q": []}
            for qi, qid in enumerate(qids):
                row = sims[qi]
                mask = ids != qid
                # chunk-level cut must use the GLOBAL tie order
                # (score desc, id asc) or an equal-score candidate at
                # the k boundary could be dropped in favor of a larger
                # id the final window would have ranked lower —
                # integer scores make exact ties routine.
                cand_idx = np.lexsort((ids[mask], -row[mask]))[:k]
                cids, csims = ids[mask][cand_idx], row[mask][cand_idx]
                out["query_id"].extend([qid] * len(cids))
                out[id_col].extend(cids.tolist())
                out["dot_q"].extend(csims.tolist())
            yield pd.DataFrame(out)

    chunk_topk = emb.select(id_col, vec_col).mapInPandas(
        score, schema=f"query_id long, {id_col} long, dot_q long"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot_q").desc(), F.col(id_col))
    return (
        chunk_topk.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Scalar int8 quantization with a per-vector scale: q_i =
    round(x_i / s), s = max|x| / 127. The 4-8× memory cut is what
    makes a 100 TB embedding corpus RAM-resident for ANN serving;
    integer dot products are exact (no float-order sensitivity), so
    quantized scores are deterministic under any partitioning.

    An all-zero vector would give scale 0 and a 0/0 division (NULL
    components, or DIVIDE_BY_ZERO under ANSI mode) — the scale is
    clamped to a tiny epsilon so zero vectors quantize to zero vectors.

    Rounding is floor(x/s + 0.5) rather than round(): floor is exact
    and the addition is the same IEEE op on both engines, so the
    quantized codes are engine-identical BY CONSTRUCTION (round()'s
    half-way tie rule differs subtly across engines) — which is what
    lets the int8 ANN query hash-match a SQL oracle.
    """
    x = F.col(vec_col)
    scale = F.greatest(
        F.aggregate(
            F.transform(x, lambda v: F.abs(v.cast("double"))),
            F.lit(0.0),
            lambda acc, v: F.greatest(acc, v),
        ) / F.lit(127.0),
        F.lit(1e-300),
    )
    return emb.select(
        F.col(id_col),
        F.col(vec_col),
        scale.alias("q_scale"),
        F.transform(
            x, lambda v: F.floor(v.cast("double") / scale + F.lit(0.5)).cast("int")
        ).alias("q_vec"),
    )


def quantized_topk_cosine(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine over int8-quantized vectors: the integer dot
    rescales by both q_scales; norms also come from the quantized
    values, so the whole score needs only the int8 payload (the
    original vectors never load at query time). Same
    TakeOrderedAndProject shape as the exact path."""
    qemb = quantize_int8(emb, id_col, vec_col)
    q = qemb.filter(F.col(id_col) == query_id).select(
        F.col("q_vec").alias("__qv"), F.col("q_scale").alias("__qs")
    )
    scored = (
        qemb.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            (
                (_idot(F.col("q_vec"), F.col("__qv")).cast("double")
                 * F.col("q_scale") * F.col("__qs"))
                / (
                    F.sqrt(_idot(F.col("q_vec"), F.col("q_vec")).cast("double"))
                    * F.col("q_scale")
                    * F.sqrt(_idot(F.col("__qv"), F.col("__qv")).cast("double"))
                    * F.col("__qs")
                )
            ).alias("sim_q"),
        )
    )
    return scored.orderBy(F.col("sim_q").desc(), F.col(id_col)).limit(k)


def hard_negatives(
    emb: DataFrame,
    eval_pred: Column,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every vector
    in the (small) eval/anchor set, the top-k most-similar corpus
    vectors carrying a DIFFERENT label — the near-misses a contrastive
    loss learns the most from.

    Scale shape: anchor sets are orders of magnitude smaller than the
    corpus, so the anchor side broadcasts and the label-mismatch
    pairing is a broadcast nested loop — one corpus scan, no shuffle
    of the big side; per-row norms are computed once, not per pair.
    The per-anchor rank is a window partitioned by anchor id (each
    anchor ranks in its own partition, never a global sort). For
    anchor sets too big to broadcast, route candidate generation
    through ivf_topk/lsh_neardup_pairs first and use this only as the
    exact verify stage.
    """
    ev = emb.filter(eval_pred).select(
        F.col(id_col).alias("eval_id"),
        F.col(label_col).alias("__el"),
        F.col(vec_col).alias("__ev"),
        _norm(F.col(vec_col)).alias("__en"),
    )
    tr = emb.filter(~eval_pred).select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("__tl"),
        F.col(vec_col).alias("__tv"),
        _norm(F.col(vec_col)).alias("__tn"),
    )
    scored = (
        tr.crossJoin(F.broadcast(ev))
        .filter(F.col("__tl") != F.col("__el"))
        .select(
            "eval_id",
            "neg_id",
            (
                _dot(F.col("__tv"), F.col("__ev"))
                / (F.col("__tn") * F.col("__en"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("eval_id").orderBy(F.desc("sim"), "neg_id")
    return scored.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).filter(F.col("rk") <= k)


def hard_negatives_ann(
    emb: DataFrame,
    eval_pred: Column,
    dim: int,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    bits_per_band: int | None = None,
    n_bands: int = DEFAULT_LSH_BANDS,
) -> DataFrame:
    """Hard-negative mining for anchor sets too big to broadcast: LSH
    band-bucket candidate generation, then exact cosine verify — the
    composition ``hard_negatives``'s docstring prescribes as the scale
    path. ``hard_negatives`` is the exact small-anchor path; this one
    trades the any-band-collision recall loss for join-only execution.

    Scale shape: anchors and corpus each compute per-band sign
    signatures; candidates come from n_bands shuffle EQUI-joins on the
    band bucket key — no broadcast proportional to either side, no
    nested loop anywhere. Only the candidate pairs pay the exact
    cosine, and the per-anchor top-k rank is a window partitioned by
    anchor id (never a global sort). Deterministic planes → the
    candidate set (and thus the output) is oracle-reproducible.
    """
    if bits_per_band is None:
        bits_per_band = lsh_bits_for(emb.count())
    bands = band_signature_cols(dim, bits_per_band, n_bands, vec_col)
    # Signatures cost bits×bands dots per row and feed n_bands join
    # consumers each — persist both sides once.
    ev = emb.filter(eval_pred).select(
        F.col(id_col).alias("eval_id"),
        F.col(label_col).alias("__el"),
        F.col(vec_col).alias("__ev"),
        _norm(F.col(vec_col)).alias("__en"),
        *bands,
    ).persist()
    tr = emb.filter(~eval_pred).select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("__tl"),
        F.col(vec_col).alias("__tv"),
        _norm(F.col(vec_col)).alias("__tn"),
        *bands,
    ).persist()
    cands = None
    for band in range(n_bands):
        a = ev.select(
            "eval_id", "__el", "__ev", "__en", F.col(f"b{band}").alias("__k")
        )
        b = tr.select(
            "neg_id", "__tl", "__tv", "__tn", F.col(f"b{band}").alias("__k")
        )
        c = a.join(b, "__k").drop("__k")
        cands = c if cands is None else cands.unionByName(c)
    scored = (
        cands.dropDuplicates(["eval_id", "neg_id"])
        .filter(F.col("__tl") != F.col("__el"))
        .select(
            "eval_id",
            "neg_id",
            (
                _dot(F.col("__tv"), F.col("__ev"))
                / (F.col("__tn") * F.col("__en"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("eval_id").orderBy(F.desc("sim"), "neg_id")
    return scored.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).filter(F.col("rk") <= k)


def semdedup(
    emb: DataFrame,
    k: int = 8,
    threshold: float = 0.95,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus with the k-means coarse
    quantizer, then look for near-duplicates ONLY within each cluster
    and mark every vector that is ≥ threshold cosine-similar to a
    lower-id vector in its cluster (keep-lowest-id policy, the same
    keep-first convention as the text dedup family).

    Scale shape: the within-cluster self-join is an equi-join on the
    cluster id, so pair work is Σ n_c² over cluster sizes instead of
    n² — at 100 TB you grow k with the corpus (k ∝ n keeps E[n_c]
    constant) and the per-cluster verify stays bounded; no global
    pairwise pass ever happens. Because flat k-means assignment is
    itself O(n·k) (quadratic when k ∝ n — the measured 75x wall at
    10x corpus in tools/scale_smoke.py), large k routes through
    hierarchical_kmeans_assign: O(n·branch·log k) work, same blocking
    role. Cross-cluster near-dups are the accepted recall loss of the
    method (the paper's trade-off).

    Returns (id, cluster, is_dup) for every input vector.
    """
    if k > 32:
        assign = hierarchical_kmeans_assign(
            emb, k=k, id_col=id_col, vec_col=vec_col
        )
    else:
        assign = kmeans_assign(
            emb, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
        )
    clustered = (
        emb.select(id_col, vec_col).join(assign, id_col).persist()
    )  # consumed by the pair search AND the final marking join
    pairs = blocked_neardup_pairs(
        clustered,
        block_col="cluster",
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
    )
    # id_a < id_b in pairs, so marking every id_b implements keep-lowest-id.
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return clustered.join(
        dropped.withColumn("__dup", F.lit(True)), id_col, "left"
    ).select(
        id_col,
        "cluster",
        F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"),
    )


def random_project(
    emb: DataFrame,
    dim: int,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: out_dim Gaussian dot
    products per vector (the same deterministic plane generator as the
    LSH family, so retried tasks reproduce identical output). Pure
    JVM folds against literal plane arrays — no shuffle at all: the
    projection happens inside the scan's codegen stage. The standard
    pre-step that makes downstream pairwise work (clustering, ANN
    verify) ~dim/out_dim cheaper while approximately preserving
    distances (ε ≈ sqrt(ln n / out_dim))."""
    planes = projection_planes(dim, out_dim)
    return emb.select(
        F.col(id_col),
        *[
            F.expr(_plane_dot(vec_col, p)).alias(f"p{i}")
            for i, p in enumerate(planes)
        ],
    )


def projection_planes(dim: int, out_dim: int) -> list[list[float]]:
    """The projection matrix, quantized to float32 granularity.

    float32-granular weights make every product in the dot fold exact
    (24-bit × 24-bit mantissas fit a double), so an engine that fuses
    multiply-add (FMA) computes bit-identical sums to one that rounds
    each product — the property the oracle hash-match relies on.
    full-precision weights broke it in the last ulp."""
    import struct

    def f32(x: float) -> float:
        return struct.unpack("f", struct.pack("f", x))[0]

    return [[f32(w) for w in p] for p in _hyperplanes(dim, out_dim)]


# Product quantization geometry: 64-dim vectors cut into PQ_M subspaces
# of PQ_D dims, PQ_K codes per subspace — 8 one-byte-range codes per
# vector vs 256 bytes of float32: a 32x memory compression, the third
# point on the ANN compression curve (float32 exact → int8 4x → PQ 32x).
PQ_M, PQ_D, PQ_K = 8, 8, 16


def pq_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rounds: int = 2,
    rerank_candidates: int = 50,
) -> DataFrame:
    """Product-quantization ANN (FAISS-IndexPQ shape): trained
    codebooks, asymmetric-distance (ADC) candidate search, exact
    re-rank. Returns the top-k (id, sim) for one query.

    Fully deterministic and engine-portable by construction:

    - Vectors are L2-normalized (PQ approximates L2; only on the unit
      sphere does L2 ordering equal cosine ordering — raw-norm ADC
      measured 0.1-0.2 recall@10 on the test corpus) and every
      coordinate quantized to int64 micro-units, so all later index
      arithmetic is EXACT integers.
    - Codebooks start as the PQ_K lowest-md5 vectors' subvectors and
      are refined by ``train_rounds`` integer Lloyd iterations per
      subspace: assignment is an exact-int argmin (ties to the
      smallest code id), the centroid update is
      FLOOR(CAST(sum AS DOUBLE)/count) per dimension — exact because
      sums stay far below 2**53 and a non-integer quotient of ints
      with denominator n sits ≥ 1/n from any integer, so the double
      division can never floor across a boundary. Empty codes keep
      their previous centroid.
    - ADC sums over the 8 per-subspace table entries are int64.
    - The final stage re-ranks the ``rerank_candidates`` best ADC ids
      with EXACT cosine over the raw vectors (the standard two-stage
      PQ serving shape) — float, but the sequential fold matches
      DuckDB's list_dot_product accumulation (parity established by
      q_knn_cosine), so the whole pipeline hash-matches its oracle.

    Scale contract: codebooks are control-plane-sized (PQ_M*PQ_K rows;
    the per-round collect moves ≤ PQ_M*PQ_K*PQ_D aggregated values to
    the driver, never corpus rows). Encode/assign is one broadcast
    pass of the corpus per round — the argmin runs IN-ROW against the
    one-row broadcast codebook (r12: the former corpus × PQ_M·PQ_K
    crossJoin + argmin groupBy shuffled 128× the corpus per round), so
    the only per-round shuffle is the map-side-combined
    (subspace, code, dim) stats aggregate, and serving is a pure map
    (in-row ADC against the query's broadcast distance table) + the
    final TakeOrderedAndProject. At serving time the 8-int code table
    IS the index: 32x smaller scans than raw float32 vectors.
    """
    import math

    spark = emb.sparkSession
    # The quantize fold and every per-round codebook-distance fold are
    # interpreted higher-order-function work over corpus × codebook
    # rows; spread a single-row-group scan across cores before the
    # persist (no-op at real scale — see spread_small_scan).
    # Spread the RAW (id, vec) projection and quantize AFTER the
    # exchange (r12 optimization): with the quantize fold under the
    # round-robin exchange the whole O(dim²)-per-row normalization ran
    # single-threaded in the one-partition scan task, and the shuffle
    # carried 8-byte bigints instead of the stored 4-byte floats.
    ints = (
        spread_small_scan(
            emb.select(F.col(id_col).alias("__id"), F.col(vec_col))
        )
        .select(
            "__id",
            F.expr(
                f"transform({vec_col}, "
                "x -> CAST(FLOOR(CAST(x AS DOUBLE) / "
                f"greatest(sqrt(aggregate({vec_col}, 0.0D, "
                "(acc, y) -> acc + CAST(y AS DOUBLE) * CAST(y AS DOUBLE))), "
                "1e-300) * 1e6 + 0.5) AS BIGINT))"
            ).alias("__v"),
        )
        .persist()
    )

    # Init: subvectors of the PQ_K lowest-md5 vectors (control-plane
    # collect — PQ_K rows).
    seed_rows = (
        ints.withColumn("__mk", F.md5(F.col("__id").cast("string")))
        .orderBy("__mk", "__id")
        .limit(PQ_K)
        .select("__id", "__v")
        .collect()
    )
    cb: dict[tuple[int, int], list[int]] = {}
    for r in seed_rows:
        for j in range(PQ_M):
            cb[(j, r["__id"])] = list(r["__v"][j * PQ_D : (j + 1) * PQ_D])

    # The codebook rides as ONE broadcast row — __cb[j] = the sorted
    # (code, subvector) list of subspace j — and both the per-round
    # assignment argmin and the serving-time ADC sum run ENTIRELY
    # IN-ROW (r12 optimization, the kmeans_assign pattern):
    # the former crossJoin shape materialized corpus × PQ_M·PQ_K rows
    # and shuffled them through a per-(vec, subspace) argmin groupBy
    # every training round, then again at serving (plus an id-keyed
    # join back to the vectors and a per-vec ADC groupBy).  The in-row
    # fold computes the identical exact-int argmin per subspace
    # (array_min over struct(dist, code) = the old
    # min(struct(dist, code)) lexicographic tiebreak) with ZERO
    # data-scale exchanges; the only remaining training shuffle is the
    # map-side-combined (j, code, d) stats aggregate, and serving is a
    # pure map + TakeOrderedAndProject.
    def cb_one_row():
        by_j = [
            sorted(
                (int(code), [int(x) for x in sv])
                for (jj, code), sv in cb.items()
                if jj == j
            )
            for j in range(PQ_M)
        ]
        return spark.createDataFrame(
            [(by_j,)], "__cb array<array<struct<code:bigint, sv:array<bigint>>>>"
        )

    # Per-subspace in-row argmin: __codes[j] = code minimizing the
    # exact-int subvector distance, ties to the smallest code.
    codes_col = F.expr(
        f"transform(sequence(0, {PQ_M - 1}), j -> "
        f"array_min(transform(element_at(__cb, j + 1), c -> "
        f"struct(aggregate(zip_with(slice(__v, j * {PQ_D} + 1, {PQ_D}), "
        "c.sv, (x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x) "
        "AS dist, c.code AS code))).code)"
    )

    for _ in range(train_rounds):
        stats = (
            ints.crossJoin(F.broadcast(cb_one_row()))
            .select("__v", F.posexplode(codes_col).alias("j", "code"))
            .select(
                "j", "code",
                F.posexplode(
                    F.expr(f"slice(__v, j * {PQ_D} + 1, {PQ_D})")
                ).alias("d", "val"),
            )
            .groupBy("j", "code", "d")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
        new: dict[tuple[int, int], list[int]] = {}
        for row in stats:
            new.setdefault((row["j"], row["code"]), [0] * PQ_D)[
                row["d"]
            ] = math.floor(row["s"] / row["c"])
        for key in cb:  # empty codes keep their previous centroid
            if key in new:
                cb[key] = new[key]

    # Serving: the query row's FULL per-(subspace, code) distance table
    # is control-plane sized (PQ_M·PQ_K entries) — collect it once and
    # ride it as a second one-row broadcast, so each corpus row's ADC
    # distance is one in-row zip_with over its 8 codes.
    qd_rows = (
        ints.filter(F.col("__id") == query_id)
        .crossJoin(F.broadcast(cb_one_row()))
        .select(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), j -> "
                f"transform(element_at(__cb, j + 1), c -> "
                f"struct(c.code AS code, "
                f"aggregate(zip_with(slice(__v, j * {PQ_D} + 1, {PQ_D}), "
                "c.sv, (x, y) -> (x - y) * (x - y)), 0L, "
                "(acc, x) -> acc + x) AS qdist)))"
            ).alias("__qd")
        )
        .collect()
    )
    if len(qd_rows) > 1:
        # The pre-r12 qtab join SUMMED distance rows over
        # duplicate query-id corpus rows; the in-row path reads one
        # collected row, so duplicate ids must fail loudly instead of
        # silently changing ADC distances.
        raise ValueError(
            f"pq_topk: query_id {query_id!r} matches {len(qd_rows)} corpus "
            "rows — ids must be unique (duplicate-id input would silently "
            "change ADC distances vs the documented single-query contract)"
        )
    scored = ints.crossJoin(F.broadcast(cb_one_row())).select(
        "__id", codes_col.alias("__codes")
    )
    if not qd_rows:
        # Missing query id: the former qtab join produced zero rows.
        approx = scored.where(F.lit(False)).select(
            "__id", F.lit(None).cast("long").alias("adc_dist")
        )
    else:
        # qdist is NULL when the vector dimension falls short of a
        # subspace (degenerate-input corpora: slice past the array end
        # zip_with-pads with NULL and the product fold nulls out) —
        # keep the NULL, exactly like the former qtab relation did.
        qd = spark.createDataFrame(
            [([[
                (int(e["code"]),
                 None if e["qdist"] is None else int(e["qdist"]))
                for e in lst
            ] for lst in qd_rows[0]["__qd"]],)],
            "__qd array<array<struct<code:bigint, qdist:bigint>>>",
        )
        # SUM semantics over the 8 per-subspace entries, reproduced
        # exactly: NULL entries are skipped, and the total is NULL iff
        # EVERY entry is NULL (the former groupBy sum over the qtab
        # join) — a plain fold would null the whole sum on one NULL.
        adc = F.expr(
            "CASE WHEN size(filter(zip_with(__codes, __qd, (cj, ql) -> "
            "element_at(filter(ql, e -> e.code = cj), 1).qdist), "
            "x -> x IS NOT NULL)) = 0 THEN NULL ELSE "
            "aggregate(filter(zip_with(__codes, __qd, (cj, ql) -> "
            "element_at(filter(ql, e -> e.code = cj), 1).qdist), "
            "x -> x IS NOT NULL), 0L, (acc, x) -> acc + x) END"
        )
        approx = (
            scored.filter(F.col("__id") != query_id)
            .crossJoin(F.broadcast(qd))
            .select("__id", adc.alias("adc_dist"))
        )
    if not rerank_candidates:
        return (
            approx.select(F.col("__id").alias(id_col), "adc_dist")
            .orderBy(F.col("adc_dist"), F.col(id_col))
            .limit(k)
        )
    cand = approx.orderBy("adc_dist", "__id").limit(rerank_candidates)
    qraw = emb.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv")
    )
    return (
        emb.join(cand, emb[id_col] == cand["__id"])
        .crossJoin(F.broadcast(qraw))
        .select(
            F.col(id_col),
            cosine_sim_total(F.col(vec_col), F.col("__qv")).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def mmr_select(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversity selection: greedily pick k
    items from the top-``pool`` cosine candidates, each round taking
    argmax of  lam*sim(query, d) - (1-lam)*max_{s in selected} sim(d, s)
    (ties to the smallest id) — the standard diverse-subset re-rank for
    dedup-aware retrieval and diversity-constrained training-set
    curation (plain top-k returns near-duplicates of one neighborhood).

    Returns (rank, id, score) for the k picks in selection order.

    Scale contract: the corpus-wide work is exactly one brute-force (or
    ANN-fed) top-``pool`` pass; everything after operates on the
    control-plane-sized pool. The pool's pairwise sims are computed in
    ONE Spark job (pool² ≈ 2.5k rows collected once) and the k greedy
    rounds then run entirely driver-local — no per-round Spark jobs,
    so selection latency is O(1) jobs instead of k.
    Determinism: candidate and pairwise sims are computed by the SAME
    sequential cosine fold expression on the cluster (DuckDB
    list_dot_product parity) and only the collected doubles feed the
    local greedy loop, whose arithmetic (lam*qsim - (1-lam)*maxprev,
    IEEE double) is bit-identical to the former per-round Spark
    expression; every argmax carries the id tiebreak, and MAX over
    floats is order-independent — so the greedy trajectory
    hash-matches an unrolled SQL oracle.
    """
    cands = (
        topk_cosine(emb, query_id, k=pool, id_col=id_col, vec_col=vec_col)
        # Totality guard: a zero-norm vector scores a
        # NULL sim (cosine_sim_total), which sorts last under DESC but
        # still lands in the pool whenever pool >= finite corpus rows —
        # and collect() would hand the greedy loop a None that breaks
        # `lam * qsim[cid]`.  Zero-norm vectors are near NOTHING under
        # cosine, so they are not MMR candidates at all.
        .where(F.col("sim").isNotNull())
        .select(F.col(id_col).alias("__cid"), F.col("sim").alias("__qsim"))
        .persist()
    )
    vecs = emb.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__vec"))
    cv = cands.join(vecs, cands["__cid"] == vecs["__vid"]).select(
        "__cid", "__qsim", "__vec"
    )
    a = cv.select(
        F.col("__cid").alias("__ia"), F.col("__vec").alias("__va")
    )
    b = cv.select(
        F.col("__cid").alias("__ib"), F.col("__vec").alias("__vb")
    )
    ps = a.join(b, F.col("__ia") != F.col("__ib")).select(
        "__ia", "__ib",
        cosine_sim_total(F.col("__va"), F.col("__vb")).alias("__s"),
    )

    # One action for the pool (pool rows), one for its pairwise sims
    # (pool² rows) — both control-plane-sized. The greedy loop then
    # runs locally on the collected doubles: same IEEE arithmetic,
    # zero per-round Spark jobs.
    qsim = {r["__cid"]: r["__qsim"] for r in cands.collect()}
    sim: dict[int, dict[int, float]] = {}
    for r in ps.collect():
        sim.setdefault(r["__ia"], {})[r["__ib"]] = r["__s"]
    cands.unpersist()

    picks: list[tuple[int, int, float]] = []  # (rank, id, score)
    selected: list[int] = []
    remaining = set(qsim)
    for rnd in range(1, k + 1):
        if not remaining:
            break
        best_id, best_score = None, None
        for cid in remaining:
            if not selected:
                score = lam * qsim[cid] - (1.0 - lam) * 0.0
            else:
                # NULL pairwise sims can't occur once zero-norm rows
                # are filtered from the pool above, but a None here
                # must never crash the greedy loop: treat it as "no
                # similarity evidence" (0.0 penalty), same as the
                # pre-selection round.
                mx = max(
                    (v for s in selected
                     if (v := sim.get(cid, {}).get(s)) is not None),
                    default=0.0,
                )
                score = lam * qsim[cid] - (1.0 - lam) * mx
            if (
                best_score is None
                or score > best_score
                or (score == best_score and cid < best_id)
            ):
                best_id, best_score = cid, score
        picks.append((rnd, best_id, best_score))
        selected.append(best_id)
        remaining.discard(best_id)
    spark = emb.sparkSession
    return spark.createDataFrame(
        picks, schema=f"rank int, {id_col} long, score double"
    )
