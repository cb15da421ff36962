"""Deduplication operators for document corpora.

Four tiers, each a standard large-scale training-data technique:

- exact        : md5 content hash → groupBy (hash-partitioned; the only
                 shuffle key is the 128-bit digest, perfectly uniform).
- ngram_jaccard: exact word-n-gram Jaccard over candidate pairs that
                 share ≥1 shingle (join on shingle hash). Exact but
                 candidate-quadratic on hot shingles — the verify step
                 of a fuzzy-dedup pipeline.
- minhash_lsh  : MinHash signatures + banded LSH bucketing → candidate
                 pairs → exact-Jaccard verification. The 100 TB path:
                 candidates come from equi-joins on (band, bucket),
                 never from a cross join.
- simhash      : 60-bit SimHash per doc from md5-derived token hashes —
                 one exchange on the doc id, then two narrow aggregates
                 (votes per (doc, bit), set bits per doc) instead of one
                 60-wide one, which the planner is slow to handle;
                 engine-portable (the oracle reproduces it in pure SQL);
                 near-pairs via pigeonhole blocking over 15-bit segments.

All hashing is md5/xxhash64-based and deterministic; no Python UDFs.

Cache-lifetime contract (decided): operators here are
DRIVER-PATTERN-SCOPED by design — a call persists its multiply-consumed
intermediates (shingles, band buckets) and deliberately leaves the
plan-keyed handles in the session cache so the caller can evaluate the
returned DataFrame lazily; nothing here can know when the caller is
done with that plan.  Programmatic users composing many calls in one
long-lived session own the eviction boundary: call
``spark.catalog.clearCache()`` between logical units (perfbench, the
registry wrapper ahead of every build, and the oracle tools already
do).  Per-call unpersist
hooks were considered and rejected: firing them before the caller's
action would silently recompute the 64-min signature groupBy per
consumer branch — the exact recomputation the persists exist to stop.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_projects_spark.operators.text import tokens

# MinHash parameters: 64 permutations, 32 bands × 2 rows.
# Banded-LSH catch threshold ≈ (1/b)^(1/r) ≈ 0.18, so pairs with true
# Jaccard ≥ 0.3 are caught with high probability; the exact-verify stage
# discards the extra false-positive candidates the low threshold admits.
NUM_PERM = 64
LSH_BANDS = 32
LSH_ROWS = NUM_PERM // LSH_BANDS
# 31-bit domain: base and multipliers < 2^31, so a·x + b < 2^62 — no
# int64 overflow under ANSI arithmetic.
_MERSENNE31 = (1 << 31) - 1

_rng = random.Random(42)
_PERMS = [
    (_rng.randrange(1, _MERSENNE31), _rng.randrange(0, _MERSENNE31))
    for _ in range(NUM_PERM)
]


def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, hasher: str = "md5"
) -> DataFrame:
    """Distinct word-n-gram shingle hashes per document: (id, shingle).

    Docs with fewer than n tokens produce no shingles (both here and in
    the SQL oracle, where generate_series is empty).

    hasher: "md5" (bigint from the first 15 md5 hex chars — engine-
    portable, reproducible in the DuckDB oracle as
    ``CAST('0x' || substr(md5(g),1,15) AS BIGINT)``; 60-bit ids keep
    joins/distincts on 8-byte keys instead of 32-char strings) or
    "xxh64" (bigint, hashed straight from the token tuple — fastest;
    for the rows-only LSH path where no SQL twin recomputes it).
    """
    from big_data_projects_spark.data import spread_small_scan

    toks = tokens(text_col)
    slots = ", ".join(f"__toks[i + {j}]" for j in range(n))
    # Shingle hashing is the scan-stage hot loop (an md5/xxhash per
    # n-gram per doc); spread a single-row-group scan across cores
    # first — no-op at real scale (see spread_small_scan).  Spread the
    # RAW (id, text) projection, and tokenize AFTER the exchange (r12
    # optimization): with the token projection under the round-robin
    # exchange, the regexp split of every document ran single-threaded
    # in the one-partition scan task, and the shuffle carried token
    # ARRAYS (per-element offsets ≈ 1.4× the raw text bytes).  This
    # shape tokenizes on all cores and shuffles fewer bytes; the
    # shingle set per doc — and everything downstream — is unchanged.
    base = spread_small_scan(
        df.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col), toks.alias("__toks"))
    # Short docs (< n tokens) are dropped by the CASE guard + explode-
    # of-empty-array, NOT by a filter (r13):
    # Catalyst pushes a size(split(text)) >= n predicate through the
    # Project AND the spread repartition, so the r12 plans re-ran the
    # regexp split of EVERY document single-threaded in the
    # one-partition scan task just to evaluate the pushed filter,
    # before the parallel split above the exchange (the r12
    # q_dedup_minhash_lsh plan).  With the guard inside
    # the gram expression there is no predicate to push: the plan
    # carries ONE split per doc, post-exchange, on all cores.  explode
    # (not explode_outer) emits nothing for the empty arrays, so the
    # shingle set per doc — and every consumer — is unchanged.
    if hasher == "md5":
        grams = F.expr(
            f"CASE WHEN size(__toks) >= {n} THEN "
            f"transform(sequence(0, size(__toks) - {n}), "
            f"i -> concat_ws(' ', {slots})) "
            f"ELSE CAST(array() AS ARRAY<STRING>) END"
        )
        return (
            base.select(F.col(id_col), F.explode(grams).alias("__gram"))
            .select(
                F.col(id_col),
                F.conv(F.substring(F.md5("__gram"), 1, 15), 16, 10)
                .cast("long")
                .alias("shingle"),
            )
            .distinct()
        )
    # xxh64 path: hash the token tuple directly inside the lambda —
    # no intermediate gram string is ever materialized (~3× faster;
    # measured 2.8s → 0.9s for 260k shingles at sf0.1).
    hashed = F.expr(
        f"CASE WHEN size(__toks) >= {n} THEN "
        f"transform(sequence(0, size(__toks) - {n}), i -> xxhash64({slots})) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    return (
        base.select(F.col(id_col), F.explode(hashed).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.1,
    shingle_df: DataFrame | None = None,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every doc pair sharing ≥1
    shingle. Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    Hot-shingle guard (the 100 TB safety valve): a shingle shared by d
    documents contributes d² candidate rows to the self-join, so one
    boilerplate n-gram appearing in millions of docs would go quadratic.
    ``max_shingle_df`` drops shingles whose document frequency exceeds
    the cap *before* the self-join — the anti-join side is only the hot
    shingles, a tiny relation. Jaccard is then computed over the capped
    shingle universe (both |A∩B| and |A|,|B|), which keeps the operator
    exactly SQL-expressible (the oracle applies the identical df-filter
    CTE). Recall loss is confined to pairs whose *only* shared shingles
    are corpus-wide boilerplate — pairs that near-dup detection should
    not flag anyway. ``None`` disables the cap.

    The shingle relation feeds three consumers (join side a, join side
    b, sizes) and alias'd self-joins defeat Spark's exchange reuse, so
    it is persisted for the duration of the computation (standard for
    multi-pass dedup; at very large scale materialize shingles to a
    temp table instead).
    """
    sh = (
        shingle_df
        if shingle_df is not None
        else shingles(df, id_col, text_col, n).persist()
    )
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_shingle_df)
            .select("shingle")
        )
        # Persist the CAPPED relation: it feeds three consumers (sizes,
        # both self-join sides) — without this the hot-df aggregation
        # and anti-join would re-run per consumer.  NOTE (r13, measured
        # and rejected): an EAGER count() here — to stop concurrent
        # consumer stages from racing the unmaterialized cache — made
        # every jaccard consumer SLOWER (q_ngram_jaccard 2.71 -> 3.30 s,
        # q_graph_modularity 5.12 -> 5.90 s, controlled A/B): the extra
        # sequenced pass costs more than the duplicated compute it
        # avoids for this single-pipeline shape.  q_lsh_quality, whose
        # TWO full pipelines fan out concurrently from one shared
        # shingle cache, is the opposite case and sequences its own
        # cache explicitly (queries_curation.py).
        sh = sh.join(hot, "shingle", "left_anti").persist()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """(id, sig: array<bigint> of NUM_PERM minhash values).

    Universal hashing over xxhash64(shingle): h_i(x) = (a_i·x + b_i)
    mod 2^61−1, min-aggregated per doc — a single groupBy with NUM_PERM
    min() aggregates (map-side partial aggregation keeps the shuffle
    tiny regardless of shingle count).
    """
    sh = shingle_df if shingle_df is not None else shingles(df, id_col, text_col, n)
    # bigint shingles are already uniform hashes — fold to the 31-bit
    # domain directly; string (md5) shingles get hashed first.  Each
    # aggregate goes in as SQL text: a few py4j calls, not dozens.
    base = (
        f"pmod(shingle, {_MERSENNE31})"
        if dict(sh.dtypes).get("shingle") == "bigint"
        else f"pmod(xxhash64(shingle), {_MERSENNE31})"
    )
    mins = [
        F.expr(f"min(({base} * {a} + {b}) % {_MERSENNE31}) AS h{i}")
        for i, (a, b) in enumerate(_PERMS)
    ]
    hs = ", ".join(f"h{i}" for i in range(NUM_PERM))
    return sh.groupBy(id_col).agg(*mins).select(
        F.col(id_col), F.expr(f"array({hs}) AS sig")
    )


def band_buckets(
    sig: DataFrame, id_col: str = "doc_id", hasher: str = "xxh64"
) -> DataFrame:
    """LSH banding of minhash signatures: (id, band, bucket) with
    LSH_BANDS rows per doc. The bucket key hashes each band's signature
    slice — md5 mode is engine-portable (the oracle recomputes it),
    xxh64 mode is the fastest production variant. Shared by the batch
    self-join pairing AND the streaming corpus-index lookup."""

    def bucket_key(b: int) -> str:
        cells = ", ".join(
            f"sig[{i}]" for i in range(b * LSH_ROWS, (b + 1) * LSH_ROWS)
        )
        if hasher == "md5":
            return (
                f"CAST(conv(substring(md5(concat_ws(':', {cells})), 1, 15), "
                "16, 10) AS BIGINT)"
            )
        return f"xxhash64({cells})"

    # One SQL-text projection for all LSH_BANDS structs.
    bands = ", ".join(
        f"named_struct('band', {b}, 'bucket', {bucket_key(b)})"
        for b in range(LSH_BANDS)
    )
    return sig.select(
        F.col(id_col), F.expr(f"explode(array({bands})) AS bb")
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.1,
    hasher: str = "xxh64",
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """Banded-LSH candidate generation + exact-Jaccard verification.

    Scale path: docs land in (band, bucket) groups via an equi-join key
    (a hash of each band's signature slice); only same-bucket pairs
    are verified. At 100 TB this is the only shape that works — no
    cross join, shuffle keys are uniform hashes.

    ``hasher``: "xxh64" (fastest) or "md5" — with md5 the shingle ids
    AND the band bucket keys are both reproducible in ANSI SQL
    (15-hex-char bigint trick), so the ENTIRE pipeline — signatures,
    banding, candidate set, exact verify — hash-matches a DuckDB
    oracle. Identical plan either way; md5 costs ~20-30% more hash
    arithmetic in the scan/signature stages.
    """
    # One shingle materialization shared by signatures + exact verify —
    # bigint shingle ids either way: every join/distinct/min-agg here
    # keys on the shingle. Callers composing several minhash relations
    # (q_minhash_est) pass their own persisted shingle relation in.
    sh_shared = (
        shingle_df
        if shingle_df is not None
        else shingles(df, id_col, text_col, n, hasher=hasher).persist()
    )
    # sig is one narrow row per doc but sits under BOTH sides of the
    # band self-join and would be recomputed per branch — persist it.
    sig = minhash_signatures(
        df, id_col, text_col, n, shingle_df=sh_shared
    ).persist()

    bands = band_buckets(sig, id_col=id_col, hasher=hasher)

    left = bands.select(F.col(id_col).alias("doc_a"), "band", "bucket")
    right = bands.select(F.col(id_col).alias("doc_b"), "band", "bucket")
    candidates = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    # Exact-Jaccard verification restricted to candidate pairs only,
    # via per-doc shingle-set arrays: two id-keyed joins attach each
    # side's (distinct) shingle array to the pair, then a JVM-side
    # array_intersect computes |A∩B| per pair. This touches each doc's
    # shingles once (the aggregate), instead of re-shuffling the full
    # (doc, shingle) relation through the pair join twice — at any
    # scale the pair count ≪ shingle count, so the per-pair array work
    # is the cheap side.
    doc_arrays = sh_shared.groupBy(id_col).agg(
        F.collect_list("shingle").alias("arr")
    )
    arr_a = doc_arrays.select(
        F.col(id_col).alias("doc_a"), F.col("arr").alias("arr_a")
    )
    arr_b = doc_arrays.select(
        F.col(id_col).alias("doc_b"), F.col("arr").alias("arr_b")
    )
    n_common = F.size(F.array_intersect("arr_a", "arr_b"))
    n_a, n_b = F.size("arr_a"), F.size("arr_b")
    return (
        candidates.join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (n_common / (n_a + n_b - n_common)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_merge_ingest(
    df: DataFrame,
    batch_flag,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.1,
    hasher: str = "md5",
) -> DataFrame:
    """MERGE an incoming batch into an existing corpus by fuzzy
    near-dup identity — the incremental-ingest decision every
    continuously-fed training corpus makes per delivery: which new
    docs are (a) near-dups of something already ingested, (b) near-
    dups of another doc in the same batch, (c) genuinely new.

    ``batch_flag`` maps the id Column to a boolean Column (True =
    incoming-batch row); it must be derivable from the id alone so
    the split applies to the banded relation without an extra join.

    Returns one row per BATCH doc: (id, verdict, canonical_id) with
    verdict in {'dup_of_corpus', 'dup_in_batch', 'new'} and
    canonical_id = the smallest verified-matching corpus id (corpus
    matches take precedence), else the smallest verified-matching
    earlier batch id, else NULL.  Matching = banded-LSH candidate
    (shared (band, bucket)) + exact-Jaccard >= ``threshold``, the
    same verify contract as minhash_lsh_pairs.

    Scale shape: ONE corpus scan builds shingles; signatures are one
    groupBy; candidates come from (band, bucket) equi-joins where one
    side is always the batch (batch-bounded candidate mass, never a
    corpus self-join); the verify touches candidate pairs only; the
    output is batch-sized.  At 100 TB the corpus-side signatures and
    band buckets would be a precomputed index relation — this
    operator recomputes them from the unified table so the whole
    decision is reproducible from one input, and the band join shape
    is identical either way.

    Caching contract (same as ngram_jaccard_pairs): the shingle
    relation feeds three consumers (signatures, both verify sides) and
    the banded relation three filter branches, so BOTH are persisted
    for the duration of the computation (docs×LSH_BANDS narrow rows
    for the bands — small relative to shingles at any corpus size);
    the handles are plan-keyed and stay in the session cache after the
    caller evaluates the result.  Long-lived sessions composing many
    calls should ``spark.catalog.clearCache()`` between them (perfbench
    and the registry wrapper ahead of every build already do).
    """
    sh = shingles(df, id_col, text_col, n, hasher=hasher).persist()
    sig = minhash_signatures(df, id_col, text_col, n, shingle_df=sh)
    # Both sides of the candidate join (the batch filter and the full
    # relation) consume the banded relation; without persist each
    # re-runs the 64-min signature groupBy — the same per-branch
    # recomputation minhash_lsh_pairs already persists against.
    # docs×LSH_BANDS narrow rows: small at any corpus size relative to
    # shingles.
    bands = band_buckets(sig, id_col=id_col, hasher=hasher).persist()

    is_batch = batch_flag(F.col(id_col))
    batch_bands = bands.filter(is_batch).select(
        F.col(id_col).alias("doc_b"), "band", "bucket"
    )
    other_bands = bands.select(
        F.col(id_col).alias("doc_o"), "band", "bucket"
    )
    # ONE (band, bucket) equi-join against the full banded relation
    # (r13, guide §2.4): the former shape ran TWO
    # joins (batch×corpus, batch×batch) with separate distincts and
    # unioned them.  vs_corpus is derivable from doc_o alone (the
    # batch_flag contract), and the two candidate sets are disjoint by
    # construction (a pair's doc_o is either a corpus or a batch id),
    # so a single join + the within-batch ordering filter + one
    # distinct yields the identical candidate relation — one exchange
    # of the batch side instead of two, one distinct instead of two.
    # Candidate mass is unchanged: the old batch×batch join produced
    # the same pre-filter rows before ITS doc_o < doc_b filter.
    is_batch_o = batch_flag(F.col("doc_o"))
    cand = (
        batch_bands.join(other_bands, ["band", "bucket"])
        .filter(~is_batch_o | (F.col("doc_o") < F.col("doc_b")))
        .select("doc_b", "doc_o", (~is_batch_o).alias("vs_corpus"))
        .distinct()
    )

    # Exact-Jaccard verify over per-doc shingle arrays — the same
    # candidate-bounded shape as minhash_lsh_pairs (pair count ≪
    # shingle count at any scale).
    doc_arrays = sh.groupBy(id_col).agg(
        F.collect_list("shingle").alias("arr")
    )
    arr_b = doc_arrays.select(
        F.col(id_col).alias("doc_b"), F.col("arr").alias("arr_b")
    )
    arr_o = doc_arrays.select(
        F.col(id_col).alias("doc_o"), F.col("arr").alias("arr_o")
    )
    n_common = F.size(F.array_intersect("arr_b", "arr_o"))
    n_b, n_o = F.size("arr_b"), F.size("arr_o")
    verified = (
        cand.join(arr_b, "doc_b")
        .join(arr_o, "doc_o")
        .filter(n_common / (n_b + n_o - n_common) >= threshold)
        .select("doc_b", "doc_o", "vs_corpus")
    )
    best = verified.groupBy("doc_b").agg(
        F.min(F.when(F.col("vs_corpus"), F.col("doc_o"))).alias(
            "__corpus_min"
        ),
        F.min(F.when(~F.col("vs_corpus"), F.col("doc_o"))).alias(
            "__batch_min"
        ),
    )
    batch_ids = df.filter(batch_flag(F.col(id_col))).select(
        F.col(id_col).alias("doc_b")
    )
    return batch_ids.join(best, "doc_b", "left").select(
        F.col("doc_b").alias(id_col),
        F.when(F.col("__corpus_min").isNotNull(), F.lit("dup_of_corpus"))
        .when(F.col("__batch_min").isNotNull(), F.lit("dup_in_batch"))
        .otherwise(F.lit("new"))
        .alias("verdict"),
        F.coalesce("__corpus_min", "__batch_min").alias("canonical_id"),
    )


# 60 bits = 15 md5 hex chars: the widest md5 prefix that fits a SIGNED
# int64 on both engines (16 chars could exceed 2^63 and overflow the
# BIGINT cast) — same portability trick as the shingle ids above.
SIMHASH_BITS = 60
# Blocking: ≤3 flipped bits touch at most 3 of the 4 segments, so two
# docs within hamming distance 3 agree exactly on ≥1 segment — the
# pigeonhole guarantee. 15-bit segments give 32768 distinct join keys
# per segment (vs 16 for the naive 4-bit scheme: ~2000× fewer
# within-bucket candidate pairs at any corpus size).
SIMHASH_SEGMENTS = 4
SIMHASH_SEG_BITS = SIMHASH_BITS // SIMHASH_SEGMENTS


def _check_simhash_bits(bits: int) -> None:
    # Whole md5 hex chars that fit a signed BIGINT: any other width
    # silently drops low bits or overflows the cast.
    if not (0 < bits <= SIMHASH_BITS and bits % 4 == 0):
        raise ValueError(f"simhash bits must be 4..{SIMHASH_BITS}, step 4: {bits}")


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """``bits``-wide SimHash per doc (bits ≤ 60, multiple of 4).

    Token hash = first bits/4 hex chars of md5 (portable across
    engines); per-bit votes (+1/−1, weighted by token multiplicity);
    bit set iff vote > 0.

    The raw (id, text) rows are hash-partitioned on the id into the
    session's shuffle partitions, the plan's only exchange: an explicit
    count is one AQE does not coalesce into a single task, so the
    tokenizing and hashing run on every core even over a one-row-group
    scan. Each token hash then fans out to one row per bit, and the
    votes are two aggregates local to that partitioning: a sum per
    (id, bit), then the set bits per id. One aggregate with ``bits``
    conditional sums gives the same hashes, but the driver spends about
    0.4 s planning it before its first job, and its partial aggregate
    is the query's slowest stage (sf0.001, 4 cores).
    """
    _check_simhash_bits(bits)
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        df.select(F.col(id_col), F.col(text_col))
        .repartition(n, id_col)
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("__tok"))
        .selectExpr(
            f"`{id_col}`",
            f"CAST(conv(substring(md5(__tok), 1, {bits // 4}), 16, 10) AS BIGINT) AS __h",
        )
        .selectExpr(f"`{id_col}`", "__h", f"explode(sequence(0, {bits - 1})) AS __i")
        .groupBy(id_col, "__i")
        .agg(F.expr("sum(IF(shiftright(__h, __i) & 1 = 1, 1, -1)) AS __v"))
        .groupBy(id_col)
        # A sum is nullable to the planner, though no group here is
        # empty; the coalesce keeps the column NOT NULL.
        .agg(F.expr("coalesce(sum(IF(__v > 0, shiftleft(1L, __i), 0L)), 0L) AS simhash"))
    )


def simhash_near_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    segments: int = SIMHASH_SEGMENTS,
) -> DataFrame:
    """All doc pairs whose simhashes differ by ≤ ``max_hamming`` bits.

    Pigeonhole blocking: the hash splits into ``segments`` equal slices;
    ≤ max_hamming flipped bits can touch at most max_hamming segments,
    so every qualifying pair agrees exactly on ≥1 segment (requires
    segments ≥ max_hamming + 1). Candidates come from per-segment
    equi-joins on (segment index, segment value) — 2^(bits/segments)
    distinct keys per segment — then the exact hamming filter runs only
    on candidates. Returns (doc_a, doc_b, hamming), doc_a < doc_b.
    """
    if segments < max_hamming + 1:
        raise ValueError(
            f"pigeonhole needs segments ({segments}) > max_hamming ({max_hamming})"
        )
    seg_bits = bits // segments
    mask = (1 << seg_bits) - 1
    segs = (
        sh.select(
            id_col,
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("seg"),
                            F.shiftright(F.col("simhash"), i * seg_bits)
                            .bitwiseAND(mask)
                            .alias("key"),
                        )
                        for i in range(segments)
                    ]
                )
            ).alias("sk"),
        )
        .select(id_col, "simhash", "sk.seg", "sk.key")
        # Both self-join sides consume this; without persist the whole
        # upstream simhash aggregation runs twice.
        .persist()
    )
    a = segs.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("h_a"), "seg", "key"
    )
    b = segs.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("h_b"), "seg", "key"
    )
    # Hamming is computed — and the threshold applied — BEFORE the
    # cross-segment pair dedupe (r13, guide §2.3): hamming is a pure
    # per-pair function (one simhash per doc) and the filter is
    # row-local, so filter∘distinct ≡ distinct∘filter — but this way
    # the dedupe exchange carries only qualifying 24-byte
    # (doc_a, doc_b, hamming) rows instead of every candidate with two
    # 8-byte hashes attached.
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        a.join(b, ["seg", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> str:
    """Generate the DuckDB twin of simhash (same bit votes, same hash)."""
    _check_simhash_bits(bits)
    vote_cols = ",\n          ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    bit_terms = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
    WITH toks AS (
        SELECT {id_col},
               unnest(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS tok
        FROM {table}
    ),
    hashed AS (
        SELECT {id_col},
               CAST(('0x' || substr(md5(tok), 1, {bits // 4})) AS BIGINT) AS h
        FROM toks
    ),
    votes AS (
        SELECT {id_col},
          {vote_cols}
        FROM hashed GROUP BY {id_col}
    )
    SELECT {id_col}, {bit_terms} AS simhash FROM votes
    """
