"""LLM training-data pipeline queries: text analysis, dedup family,
similarity search, multimodal plumbing (SURVEY.md §7 phase 3;
BASELINE.json north star). These are first-class components, each a
scale-designed operator with a DuckDB oracle twin where the semantics
are SQL-expressible (probabilistic/LSH/float-mean ops are rows-only).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_projects_spark.data import load_table as _t
from big_data_projects_spark.operators import dedup as D
from big_data_projects_spark.operators.components import connected_components
from big_data_projects_spark.operators import multimodal as M
from big_data_projects_spark.operators import similarity as S
from big_data_projects_spark.operators import text as T
from big_data_projects_spark.registry import register


_TOKS = "regexp_split_to_array(trim(lower(text)), '\\s+')"

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@register(
    "q_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct_tokens
    FROM documents
    """,
)
def q_token_stats(spark, sf_dir):
    """Token counting: whitespace tokenizer, total + distinct counts."""
    docs = _t(spark, sf_dir, "documents")
    return T.with_token_stats(docs).select("doc_id", "n_tokens", "n_distinct_tokens")


@register(
    "q_lang_id",
    oracle=r"""
    WITH s AS (
        SELECT doc_id, lang,
            len(regexp_extract_all(lower(text), '\b(the|a|is|and|of)\b')) AS en,
            len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS de,
            len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS fr,
            len(regexp_extract_all(lower(text), '\b(el|los|las|y|es)\b')) AS es,
            len(regexp_extract_all(lower(text), '[\x{4e00}-\x{9fff}]')) AS zh
        FROM documents
    )
    SELECT doc_id, lang,
        CASE WHEN en=0 AND de=0 AND fr=0 AND es=0 AND zh=0 THEN 'unknown'
             WHEN en>=de AND en>=fr AND en>=es AND en>=zh THEN 'en'
             WHEN de>=fr AND de>=es AND de>=zh THEN 'de'
             WHEN fr>=es AND fr>=zh THEN 'fr'
             WHEN es>=zh THEN 'es'
             ELSE 'zh' END AS pred_lang
    FROM s
    """,
)
def q_lang_id(spark, sf_dir):
    """Language-ID: marker-word n-gram heuristic, deterministic argmax
    with fixed preference order (en,de,fr,es,zh), 'unknown' on zero
    evidence. All JVM regexp_count — no UDF."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", T.predict_lang("text").alias("pred_lang"))


@register(
    "q_text_quality",
    oracle=r"""
    WITH f AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_obs,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(lower(text), '[.,;:!?]')) AS BIGINT) AS n_punct,
               CAST(len(regexp_extract_all(lower(text), '\b(the|a|is|and|of|to|in|that|it|for)\b')) AS BIGINT) AS n_stopwords
        FROM documents
    )
    SELECT doc_id, n_chars_obs, n_tokens, n_punct, n_stopwords,
           least(1.0, n_tokens / 50.0)
             * (1.0 - n_punct / n_tokens)
             * (0.5 + 0.5 * (n_stopwords / n_tokens)) AS quality_score
    FROM f
    """,
)
def q_text_quality(spark, sf_dir):
    """Quality scoring from integer counts (length/punct/stopword
    ratios) — int arithmetic makes the double score engine-portable."""
    docs = _t(spark, sf_dir, "documents")
    return T.quality_features(docs).select(
        "doc_id", "n_chars_obs", "n_tokens", "n_punct", "n_stopwords", "quality_score"
    )


@register(
    "q_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
             AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text),
               '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+|\s+'))
             AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def q_bpe_token_count(spark, sf_dir):
    """Token counting, both ways a data pipeline needs it: whitespace
    tokens and a GPT-2-style BPE pre-tokenizer regex (contraction
    suffixes / letter runs / digit runs / punctuation runs) — the
    cheap proxy for 'how many model tokens is this document' used in
    token-budget accounting. Pattern restricted to Java-regex ∩ RE2
    constructs so both engines tokenize identically."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(T.tokens("text")).cast("long").alias("n_ws_tokens"),
        T.bpe_token_count("text").alias("n_bpe_tokens"),
    )


@register(
    "q_winnow_fingerprint",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, i AS pos,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(toks[i:i+4],
                           t -> CAST(('0x' || substr(md5(t), 1, 7)) AS BIGINT))),
                   (acc, x) -> (acc * 131 + x) % 2147483647) AS h
        FROM t, UNNEST(generate_series(1, len(toks) - 4)) AS u(i)
        WHERE len(toks) >= 5
    ),
    wmin AS (
        SELECT doc_id, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               COUNT(*) OVER (PARTITION BY doc_id) AS n
        FROM g
    )
    SELECT DISTINCT doc_id, fp FROM wmin WHERE pos <= n - 3
    """,
)
def q_winnow_fingerprint(spark, sf_dir):
    """Winnowing fingerprints (MOSS): rolling-hash k-gram hashes →
    per-window minima → distinct selected fingerprints per document.
    See operators/text.py:winnowing_fingerprints for the guarantee and
    the 100 TB shape (explode + doc-partitioned window, no self-join)."""
    docs = _t(spark, sf_dir, "documents")
    return T.winnowing_fingerprints(docs, "doc_id", "text", k=5, w=4)


@register(
    "q_embed_decontaminate",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    ev AS (SELECT * FROM e WHERE vec_id % 10 = 0),
    tr AS (SELECT * FROM e WHERE vec_id % 10 != 0),
    p AS (
        SELECT ev.vec_id,
               list_dot_product(ev.v, tr.v)
                 / (sqrt(list_dot_product(ev.v, ev.v))
                    * sqrt(list_dot_product(tr.v, tr.v))) AS sim
        FROM ev JOIN tr USING (label)
    ),
    agg AS (
        SELECT vec_id,
               COUNT(CASE WHEN sim >= 0.3 THEN 1 END) AS n_near,
               round(MAX(sim), 10) AS max_sim
        FROM p GROUP BY vec_id
    )
    SELECT ev.vec_id,
           COALESCE(agg.n_near, 0) AS n_near,
           COALESCE(agg.max_sim, -1.0) AS max_sim,
           COALESCE(agg.n_near, 0) > 0 AS is_contaminated
    FROM ev LEFT JOIN agg USING (vec_id)
    """,
)
def q_embed_decontaminate(spark, sf_dir):
    """Embedding-space train↔eval decontamination: for every held-out
    eval vector (vec_id % 10 = 0), how many training vectors sit above
    a cosine threshold — the semantic-overlap complement to
    q_contamination's exact shingle check. Comparison is BLOCKED on the
    label column (the IVF-partition pattern): a keyed equi-join on
    label, never an all-pairs product, so the shape survives a corpus
    where both sides are huge (the label blocking is exactly what
    kmeans_assign builds when no natural key exists). Cosine is the
    sequential JVM fold, bit-identical to DuckDB list_dot_product;
    max_sim rounds to 10 and nulls coalesce to -1 so the hash is
    engine-exact."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    ev = emb.filter(F.col("vec_id") % 10 == 0)
    tr = emb.filter(F.col("vec_id") % 10 != 0).select(
        "label", F.col("v").alias("vt")
    )
    sims = ev.join(tr, "label").select(
        "vec_id", S.cosine_sim_total(F.col("v"), F.col("vt")).alias("sim")
    )
    agg = sims.groupBy("vec_id").agg(
        F.count(F.when(F.col("sim") >= 0.3, 1)).alias("n_near"),
        F.round(F.max("sim"), 10).alias("max_sim"),
    )
    return (
        ev.select("vec_id")
        .join(agg, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_near", F.lit(0)).alias("n_near"),
            F.coalesce("max_sim", F.lit(-1.0)).alias("max_sim"),
            (F.coalesce("n_near", F.lit(0)) > 0).alias("is_contaminated"),
        )
    )


@register(
    "q_unigram_ppl",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    cf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n, (SELECT COUNT(*) FROM cf) AS v FROM toks),
    nll AS (
        SELECT t.doc_id,
               CAST(round(-ln((c + 1.0) / (n + v)), 12) AS DECIMAL(38, 14))
                 AS x
        FROM toks t JOIN cf USING (term) CROSS JOIN tot
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_toks, CAST(SUM(x) AS DOUBLE) AS s
        FROM nll GROUP BY 1
    )
    SELECT doc_id, n_toks, round(exp(s / n_toks), 8) AS ppl
    FROM agg
    """,
)
def q_unigram_ppl(spark, sf_dir):
    """Unigram-LM perplexity per document (CCNet-style quality signal):
    add-1-smoothed corpus unigram probabilities, per-doc mean negative
    log-likelihood, ppl = exp(mean). Low ppl ≈ stereotypical text, high
    ppl ≈ noise — the standard cheap LM filter before expensive model
    scoring. Counts are exact ints; each token's −ln p is rounded to 12
    then decimal-summed (order-independent), and the final exp() is
    rounded to 8 so last-ulp libm differences can't leak into the hash.
    At 100 TB: explode + two keyed groupBys + one term-keyed equi-join
    (AQE broadcasts the term table when it fits); no driver collect."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    cf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = (
        toks.agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(cf.agg(F.count(F.lit(1)).alias("v"))))
    )
    nll = (
        toks.join(cf, "term")
        .join(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                -F.log((F.col("c") + F.lit(1.0)) / (F.col("n") + F.col("v"))),
                12,
            )
            .cast("decimal(38,14)")
            .alias("x"),
        )
    )
    return (
        nll.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("x").cast("double").alias("s"),
        )
        .select(
            "doc_id",
            "n_toks",
            F.round(F.exp(F.col("s") / F.col("n_toks")), 8).alias("ppl"),
        )
    )


@register(
    "q_doc_fingerprint",
    oracle="""
    SELECT doc_id, md5(text) AS fp,
           CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS fp32
    FROM documents
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 hex + compact 32-bit key."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.fingerprint("text").alias("fp"),
        T.fingerprint32("text").alias("fp32"),
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@register(
    "q_dedup_exact",
    oracle="""
    SELECT source, COUNT(*) AS n_total,
           COUNT(DISTINCT md5(text)) AS n_unique
    FROM documents GROUP BY source
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup accounting per source: content-hash distinct counts.
    The hash key is uniform → no skew in the distinct shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct(T.fingerprint("text")).alias("n_unique"),
    )


@register(
    "q_ngram_jaccard",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh_all AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    sh AS (  -- hot-shingle document-frequency cap, same as the Spark side
        SELECT doc_id, shingle FROM sh_all
        WHERE shingle NOT IN (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 1000
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    """,
)
def q_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard pairs (threshold 0.1): the verify
    stage of fuzzy dedup, candidates restricted to pairs sharing a
    shingle (equi-join on shingle hash, never a cross join)."""
    docs = _t(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, threshold=0.1)


def _minhash_lsh_oracle() -> str:
    # The md5-portable mode makes the WHOLE pipeline SQL-reproducible:
    # the same 15-hex-char bigint shingles, the same universal-hash
    # permutation minima (64 MIN aggregates over exact int64
    # arithmetic), the same md5-derived band bucket keys, the same
    # exact-Jaccard verify. A regression anywhere — shingling, perm
    # constants, banding, verify — breaks the hash match.
    from big_data_projects_spark.operators.dedup import (
        LSH_BANDS, LSH_ROWS, _MERSENNE31, _PERMS,
    )

    M = _MERSENNE31
    mins = ",\n               ".join(
        f"MIN((b * {a} + {bb}) % {M}) AS h{i}"
        for i, (a, bb) in enumerate(_PERMS)
    )
    band_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, CAST(('0x' || substr(md5("
        + " || ':' || ".join(
            f"CAST(h{i} AS VARCHAR)"
            for i in range(b * LSH_ROWS, (b + 1) * LSH_ROWS)
        )
        + "), 1, 15)) AS BIGINT) AS bucket FROM sigs"
        for b in range(LSH_BANDS)
    )
    return rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    based AS (SELECT doc_id, shingle % {M} AS b FROM sh),
    sigs AS (
        SELECT doc_id,
               {mins}
        FROM based GROUP BY doc_id
    ),
    bands AS (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh s1 ON s1.doc_id = c.doc_a
        JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
        GROUP BY 1, 2
    )
    SELECT m.doc_a, m.doc_b,
           m.n_common / (sa.n_sh + sb.n_sh - m.n_common) AS jaccard
    FROM common m
    JOIN sizes sa ON sa.doc_id = m.doc_a
    JOIN sizes sb ON sb.doc_id = m.doc_b
    WHERE m.n_common / (sa.n_sh + sb.n_sh - m.n_common) >= 0.1
    """


@register("q_dedup_minhash_lsh", oracle=_minhash_lsh_oracle())
def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash(64) + banded LSH(32×2) candidates, exact-Jaccard
    verified — the 100 TB fuzzy-dedup path. Registered in the
    md5-portable mode, which makes signatures, band buckets, the
    candidate set, AND the verify all reproducible in SQL — so this
    formerly rows-only probabilistic operator now hash-matches its
    oracle end-to-end (the xxh64 mode stays available as the fastest
    production variant; the plan is identical)."""
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, threshold=0.1, hasher="md5")


def _merge_ingest_oracle() -> str:
    # Same md5-portable signature/band CTEs as _minhash_lsh_oracle,
    # then the MERGE split: batch docs (md5(doc_id) first hex char in
    # d/e/f, ~19% of the corpus) are matched against corpus buckets
    # and earlier-batch buckets, verified by exact Jaccard, and
    # assigned a verdict + canonical id.  MATERIALIZED on the relations
    # consumed more than once (DuckDB re-inlines CTEs otherwise — the
    # round-5 unrolled-iteration lesson).
    from big_data_projects_spark.operators.dedup import (
        LSH_BANDS, LSH_ROWS, _MERSENNE31, _PERMS,
    )

    M = _MERSENNE31
    mins = ",\n               ".join(
        f"MIN((b * {a} + {bb}) % {M}) AS h{i}"
        for i, (a, bb) in enumerate(_PERMS)
    )
    band_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, CAST(('0x' || substr(md5("
        + " || ':' || ".join(
            f"CAST(h{i} AS VARCHAR)"
            for i in range(b * LSH_ROWS, (b + 1) * LSH_ROWS)
        )
        + "), 1, 15)) AS BIGINT) AS bucket FROM sigs"
        for b in range(LSH_BANDS)
    )
    return rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    based AS (SELECT doc_id, shingle % {M} AS b FROM sh),
    sigs AS MATERIALIZED (
        SELECT doc_id,
               {mins}
        FROM based GROUP BY doc_id
    ),
    bands AS MATERIALIZED (
        {band_selects}
    ),
    bb AS MATERIALIZED (
        SELECT * FROM bands
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('d','e','f')
    ),
    cb AS (
        SELECT * FROM bands
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) NOT IN ('d','e','f')
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT b.doc_id AS doc_b, o.doc_id AS doc_o,
               TRUE AS vs_corpus
        FROM bb b JOIN cb o ON b.band = o.band AND b.bucket = o.bucket
        UNION ALL
        SELECT DISTINCT b.doc_id, o.doc_id, FALSE
        FROM bb b JOIN bb o ON b.band = o.band AND b.bucket = o.bucket
                           AND o.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    common AS (
        SELECT c.doc_b, c.doc_o, c.vs_corpus, COUNT(*) AS n_common
        FROM cand c
        JOIN sh s1 ON s1.doc_id = c.doc_b
        JOIN sh s2 ON s2.doc_id = c.doc_o AND s2.shingle = s1.shingle
        GROUP BY 1, 2, 3
    ),
    ver AS (
        SELECT m.doc_b, m.doc_o, m.vs_corpus
        FROM common m
        JOIN sizes sa ON sa.doc_id = m.doc_b
        JOIN sizes sb ON sb.doc_id = m.doc_o
        WHERE m.n_common / (sa.n_sh + sb.n_sh - m.n_common) >= 0.1
    ),
    best AS (
        SELECT doc_b,
               MIN(CASE WHEN vs_corpus THEN doc_o END) AS corpus_min,
               MIN(CASE WHEN NOT vs_corpus THEN doc_o END) AS batch_min
        FROM ver GROUP BY doc_b
    )
    SELECT d.doc_id,
           CASE WHEN corpus_min IS NOT NULL THEN 'dup_of_corpus'
                WHEN batch_min IS NOT NULL THEN 'dup_in_batch'
                ELSE 'new' END AS verdict,
           COALESCE(corpus_min, batch_min) AS canonical_id
    FROM (
        SELECT doc_id FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('d','e','f')
    ) d
    LEFT JOIN best ON best.doc_b = d.doc_id
    """


def _merge_batch_flag(c):
    """True = incoming-batch row: md5(doc_id) first hex char in d/e/f
    (~19% of any corpus, deterministic, id-derivable — the same
    md5-split convention as the eval panels)."""
    return F.substring(F.md5(c.cast("string")), 1, 1).isin("d", "e", "f")


@register("q_dedup_merge_ingest", oracle=_merge_ingest_oracle())
def q_dedup_merge_ingest(spark, sf_dir):
    """Incremental-ingest near-dup MERGE: a deterministic ~19% of the
    corpus (md5(doc_id) prefix in d/e/f) plays the incoming batch; each
    batch doc is verdicted 'dup_of_corpus' (verified LSH match to an
    existing doc — canonical = smallest such id), 'dup_in_batch'
    (verified match to a smaller-id batch doc), or 'new'.  This is the
    per-delivery decision a continuously-fed training corpus makes —
    the batch analogue of q_stream_fuzzy_dedup's corpus-index gate,
    with full verify + canonical assignment (the MERGE half
    q_incremental_dedup's exact-hash path can't express for fuzzy
    matches).

    Scale shape (operators/dedup.py minhash_merge_ingest): one corpus
    scan → shingles → one signature groupBy → banded buckets; every
    candidate join is (band, bucket) equi with the BATCH on one side
    (candidate mass bounded by batch size, never a corpus self-join);
    verify touches candidates only; output is batch-sized.  Registered
    in md5-portable mode so signatures, banding, candidates, verify,
    and verdict precedence all hash-match the SQL oracle end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_merge_ingest(
        docs, _merge_batch_flag, threshold=0.1, hasher="md5"
    )


def _simhash_pairs_oracle() -> str:
    # The pigeonhole blocking is COMPLETE for hamming <= 3 (4 segments,
    # so >= 1 must match exactly), which means the Spark result equals
    # the brute-force pair filter — statable directly in SQL at oracle
    # scale over the shared simhash CTE.
    sh = D.simhash_oracle_sql()
    return f"""
    WITH sh AS ({sh})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@register("q_simhash_pairs", oracle=_simhash_pairs_oracle())
def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup candidates: docs whose 60-bit simhash differs
    by ≤ 3 bits, paired via pigeonhole blocking over 4 segments of 15
    bits (≤3 flipped bits can touch at most 3 segments, so at least one
    segment matches exactly → equi-join per segment finds every such
    pair; 32768 distinct keys per segment keeps within-bucket candidate
    counts ~2000× below the old 4-bit scheme at any corpus size), then
    exact hamming filter. The blocking is COMPLETE for the ≤3
    threshold, so the hash-match against the oracle's brute-force pair
    filter verifies both the simhash and the pairing end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash_near_pairs(D.simhash(docs), max_hamming=3)


@register("q_simhash", oracle=D.simhash_oracle_sql())
def q_simhash(spark, sf_dir):
    """60-bit SimHash per document — fully engine-portable (md5-derived
    token hashes fit a signed int64 on both engines, bit-vote
    aggregation), so it IS oracle-checked."""
    docs = _t(spark, sf_dir, "documents")
    return D.simhash(docs)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COS = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


@register(
    "q_knn_cosine",
    oracle="""
    SELECT a.vec_id,
           list_dot_product(a.embedding::DOUBLE[], q.qv) /
           (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
            sqrt(list_dot_product(q.qv, q.qv))) AS sim
    FROM embeddings a,
         (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
    WHERE a.vec_id != 0
    ORDER BY sim DESC, a.vec_id
    LIMIT 10
    """,
)
def q_knn_cosine(spark, sf_dir):
    """Brute-force cosine top-10 against query vec_id=0. The fold is a
    Catalyst higher-order function with sequential double accumulation
    — bit-identical to DuckDB list_dot_product on DOUBLE[] (verified),
    so even the float sims hash-match. Physical plan: broadcast 1-row
    query, one corpus scan, TakeOrderedAndProject (per-partition
    heaps — no global sort)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.topk_cosine(emb, query_id=0, k=10)


@register(
    "q_embed_neardup",
    oracle=f"""
    SELECT * FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS} AS sim
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE sim >= 0.3
    """,
)
def q_embed_neardup(spark, sf_dir):
    """Embedding near-dup pairs within label blocks (blocked exact
    verification — the step after any ANN candidate generation)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.blocked_neardup_pairs(emb, block_col="label", threshold=0.3)


@register(
    "q_knn_ivf",
    oracle="""
    WITH pos AS (
        SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings,
             UNNEST(generate_series(1, len(embedding))) AS u(i)
    ),
    cent AS (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS c
        FROM pos GROUP BY 1, 2
    ),
    cvec AS (
        SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    probe AS (
        SELECT label FROM cvec, q
        ORDER BY list_dot_product(centroid, qv) /
                 (sqrt(list_dot_product(centroid, centroid)) *
                  sqrt(list_dot_product(qv, qv))) DESC, label
        LIMIT 3
    )
    SELECT e.vec_id,
           list_dot_product(e.embedding::DOUBLE[], q.qv) /
           (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
            sqrt(list_dot_product(q.qv, q.qv))) AS sim
    FROM embeddings e JOIN probe p ON e.label = p.label CROSS JOIN q
    WHERE e.vec_id != 0
    ORDER BY sim DESC, e.vec_id
    LIMIT 10
    """,
)
def q_knn_ivf(spark, sf_dir):
    """IVF-style two-stage ANN: per-label centroids, probe top-3
    partitions, fine search only there — the partition-pruned scale
    path for similarity search. Formerly rows-only: decimal-
    accumulated centroid means (the q_embed_outliers pattern) make the
    coarse stage deterministic under any partitioning, so probe
    selection, fine sims, and the top-k all hash-match the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, query_id=0, k=10, n_probe=3)


def _ivf_merge_oracle() -> str:
    # The same md5 d/e/f batch-split convention as _merge_ingest_oracle,
    # the frozen-centroid CTEs of the q_knn_ivf oracle computed over
    # CORPUS rows only (the index predates the batch), and the
    # literal-hyperplane band expressions of _embed_lsh_oracle (same
    # seeded planes): routing = row_number over the per-vector centroid
    # ranking; candidates = shared (probed cell, band, bucket); verify
    # = naive cosine.  Both engines fold sequentially on DOUBLE[], so
    # routing ranks, buckets, sims, and verdicts all reproduce.
    bits, n_bands = 8, S.DEFAULT_LSH_BANDS
    planes = S._hyperplanes(64, bits * n_bands)
    cos = (
        "list_dot_product({a},{b}) / (sqrt(list_dot_product({a},{a})) * "
        "sqrt(list_dot_product({b},{b})))"
    )

    def band_expr(tbl: str, j: int) -> str:
        terms = []
        for i in range(bits):
            lit = ", ".join("'" + repr(w) + "'" for w in planes[j * bits + i])
            terms.append(
                f"(CASE WHEN list_dot_product({tbl}.v, [{lit}]::DOUBLE[]) > 0"
                f" THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms)

    def sig_cols(tbl: str) -> str:
        return ", ".join(
            f"{band_expr(tbl, j)} AS b{j}" for j in range(n_bands)
        )

    def band_union(src: str) -> str:
        return "\n        UNION ALL ".join(
            f"SELECT vec_id, {j} AS band, b{j} AS bucket FROM {src}"
            for j in range(n_bands)
        )

    return f"""
    WITH pos AS (
        SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
        WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) NOT IN ('d','e','f')
    ),
    cent AS (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS c
        FROM pos GROUP BY 1, 2
    ),
    cvec AS MATERIALIZED (
        SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label
    ),
    batch0 AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('d','e','f')
    ),
    bsig AS MATERIALIZED (SELECT vec_id, v, {sig_cols("batch0")} FROM batch0),
    bband AS MATERIALIZED ({band_union("bsig")}),
    corpus0 AS MATERIALIZED (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) NOT IN ('d','e','f')
    ),
    csig AS MATERIALIZED (
        SELECT vec_id, label, v, {sig_cols("corpus0")} FROM corpus0
    ),
    routes AS MATERIALIZED (
        SELECT b.vec_id, c.label, ROW_NUMBER() OVER (
            PARTITION BY b.vec_id
            ORDER BY {cos.format(a="c.centroid", b="b.v")} DESC, c.label
        ) AS rn
        FROM bsig b CROSS JOIN cvec c
    ),
    probed AS MATERIALIZED (
        SELECT r.vec_id, r.label, s.band, s.bucket
        FROM routes r JOIN bband s ON s.vec_id = r.vec_id
        WHERE r.rn <= 2
    ),
    cband AS (
        SELECT c.vec_id, c.label, s.band, s.bucket
        FROM csig c JOIN ({band_union("csig")}) s ON s.vec_id = c.vec_id
    ),
    within AS (
        SELECT r.vec_id, r.label, s.band, s.bucket
        FROM routes r JOIN bband s ON s.vec_id = r.vec_id
        WHERE r.rn = 1
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT b.vec_id AS b_id, o.vec_id AS o_id, TRUE AS vs_corpus
        FROM probed b JOIN cband o
          ON o.label = b.label AND o.band = b.band AND o.bucket = b.bucket
        UNION ALL
        SELECT DISTINCT b.vec_id, o.vec_id, FALSE
        FROM probed b JOIN within o
          ON o.label = b.label AND o.band = b.band AND o.bucket = b.bucket
             AND o.vec_id < b.vec_id
    ),
    ver AS (
        SELECT c.b_id, c.o_id, c.vs_corpus
        FROM cand c
        JOIN bsig b ON b.vec_id = c.b_id
        JOIN (SELECT vec_id, v FROM csig
              UNION ALL SELECT vec_id, v FROM bsig) o ON o.vec_id = c.o_id
        WHERE {cos.format(a="b.v", b="o.v")} >= 0.3
    ),
    best AS (
        SELECT b_id,
               MIN(CASE WHEN vs_corpus THEN o_id END) AS corpus_min,
               MIN(CASE WHEN NOT vs_corpus THEN o_id END) AS batch_min
        FROM ver GROUP BY 1
    )
    SELECT r.vec_id, r.label AS cell,
           CASE WHEN corpus_min IS NOT NULL THEN 'dup_of_corpus'
                WHEN batch_min IS NOT NULL THEN 'dup_in_batch'
                ELSE 'new' END AS verdict,
           COALESCE(corpus_min, batch_min) AS canonical_id
    FROM routes r LEFT JOIN best ON best.b_id = r.vec_id
    WHERE r.rn = 1
    """


@register("q_ivf_merge_ingest", oracle=_ivf_merge_oracle())
def q_ivf_merge_ingest(spark, sf_dir):
    """Incremental ANN index MERGE: a deterministic ~19% of the vectors
    (md5(vec_id) prefix in d/e/f — the q_dedup_merge_ingest batch
    convention) plays the incoming batch; each is routed into the
    EXISTING IVF index (cell centroids frozen over corpus vectors only
    — no retraining), near-dup candidates are generated inside its
    top-2 cells via shared hyperplane-LSH band buckets (the
    q_embed_lsh_neardup machinery — cell alone is NOT a bounded
    candidate set: the cell-only variant measured 209x wall at 30x
    data on the fixed-cell smoke corpus), exact cosine >= 0.3
    verifies, and the vector is verdicted 'dup_of_corpus' (canonical =
    smallest verified corpus id), 'dup_in_batch' (verified match to a
    smaller-id batch vector at its routed cell), or 'new' — the
    vector-side half of the corpus-that-grows story (the embedding
    twin of q_dedup_merge_ingest, with the same candidates+verify
    contract).

    Scale shape (operators/similarity.py ivf_merge_ingest): centroids
    are k control-plane rows packed into ONE broadcast row; routing is
    ranked IN-ROW (array_sort over struct(-csim, cell) — no batch
    shuffle, no window); band signatures are
    in-row; every candidate join is (cell, band, bucket)-equi with the
    batch on one side (candidate mass bounded by batch size x bands x
    bucket occupancy, never a corpus self-join); output is
    batch-sized.  Decimal-accumulated centroid means, literal seeded
    hyperplanes, and sequential-fold cosines make routing, bucketing,
    verification, and verdicts hash-match the SQL oracle end-to-end.
    Recall vs the full-rebuild index is pinned in
    tests/test_operators_unit.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.ivf_merge_ingest(
        # bits_per_band pinned: the oracle embeds the 8-bit planes as
        # literals, so buckets must be static across engines and SFs.
        # The operator DEFAULT derives lsh_bits_for(n).
        emb, _merge_batch_flag, dim=64, n_probe=2, threshold=0.3,
        bits_per_band=8,
    )


def _embed_lsh_oracle() -> str:
    # Same literal-hyperplane trick as _hn_ann_oracle: the seeded
    # planes embed as exact string-cast DOUBLE[] literals, both engines
    # fold the dots sequentially, so the sign-bit buckets — and hence
    # the whole candidate set — reproduce bit-for-bit in SQL.
    bits, n_bands = 8, S.DEFAULT_LSH_BANDS
    planes = S._hyperplanes(64, bits * n_bands)

    def band_expr(j: int) -> str:
        terms = []
        for i in range(bits):
            lit = ", ".join("'" + repr(w) + "'" for w in planes[j * bits + i])
            terms.append(
                "(CASE WHEN list_dot_product(embedding::DOUBLE[], "
                f"[{lit}]::DOUBLE[]) > 0 THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms) + f" AS b{j}"

    bexprs = ",\n               ".join(band_expr(j) for j in range(n_bands))
    unions = "\n            UNION ALL ".join(
        f"SELECT a.vec_id AS ida, b.vec_id AS idb FROM sig a "
        f"JOIN sig b ON a.b{j} = b.b{j} AND a.vec_id < b.vec_id"
        for j in range(n_bands)
    )
    return f"""
    WITH sig AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               {bexprs}
        FROM embeddings
    ),
    cand AS (
        SELECT DISTINCT ida AS id_a, idb AS id_b FROM (
            {unions}
        )
    )
    SELECT c.id_a, c.id_b,
           list_dot_product(a.v, b.v) /
           (sqrt(list_dot_product(a.v, a.v)) *
            sqrt(list_dot_product(b.v, b.v))) AS sim
    FROM cand c
    JOIN sig a ON a.vec_id = c.id_a
    JOIN sig b ON b.vec_id = c.id_b
    WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) *
           sqrt(list_dot_product(b.v, b.v))) >= 0.3
    """


@register("q_embed_lsh_neardup", oracle=_embed_lsh_oracle())
def q_embed_lsh_neardup(spark, sf_dir):
    """Random-hyperplane LSH near-dup: sign-bit signatures, banded
    bucket equi-join candidates, exact cosine verify. Formerly
    rows-only; the deterministic seeded planes make the buckets (and
    so the candidate set and verified sims) SQL-reproducible, so this
    probabilistic operator now hash-matches its oracle end-to-end.
    bits_per_band is pinned at 8 (the width lsh_bits_for derives for
    every driver corpus ≤ 16k vectors) to keep the oracle static."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.lsh_neardup_pairs(emb, dim=64, threshold=0.3, bits_per_band=8)


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------

@register(
    "q_multimodal_bytes",
    oracle="""
    SELECT doc_id, 'text' AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest
    FROM documents
    """,
)
def q_multimodal_bytes(spark, sf_dir):
    """Binary payload carrier: opaque bytes + typed metadata struct.
    The metadata (byte length, digest) is oracle-checked; payloads stay
    opaque exactly as image/audio blobs would."""
    docs = _t(spark, sf_dir, "documents")
    wrapped = M.with_binary_payload(docs)
    return wrapped.select(
        "doc_id",
        F.col("meta.kind").alias("kind"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.digest").alias("digest"),
    )


def _mm_decode_oracle() -> str:
    def b(j: int) -> str:  # j-th byte (0-based) of md5(text)
        return f"CAST(('0x' || substr(md5(text), {2 * j + 1}, 2)) AS BIGINT)"

    mean_r = "(" + " + ".join(b(j) for j in (0, 3, 6, 9)) + ") / 4.0"
    mean_g = "(" + " + ".join(b(j) for j in (1, 4, 7, 10)) + ") / 4.0"
    mean_b = "(" + " + ".join(b(j) for j in (2, 5, 8, 11)) + ") / 4.0"
    px_min = "LEAST(" + ", ".join(b(j) for j in range(12)) + ")"
    px_max = "GREATEST(" + ", ".join(b(j) for j in range(12)) + ")"
    samples = []
    for i in range(8):
        u = f"({b(2 * i)} + 256 * {b(2 * i + 1)})"
        samples.append(f"(CASE WHEN {u} >= 32768 THEN {u} - 65536 ELSE {u} END)")
    s_mean = "(" + " + ".join(samples) + ") / 8.0"
    s_min = "LEAST(" + ", ".join(samples) + ")"
    s_max = "GREATEST(" + ", ".join(samples) + ")"
    return f"""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
           'decoded' AS decode_status,
           CASE WHEN doc_id % 2 = 0 THEN 2.0 ELSE 8.0 END AS f1,
           CASE WHEN doc_id % 2 = 0 THEN 2.0 ELSE 8000.0 END AS f2,
           CASE WHEN doc_id % 2 = 0 THEN {mean_r} ELSE {s_mean} END AS f3,
           CASE WHEN doc_id % 2 = 0 THEN {mean_g}
                ELSE CAST({s_min} AS DOUBLE) END AS f4,
           CASE WHEN doc_id % 2 = 0 THEN {mean_b}
                ELSE CAST({s_max} AS DOUBLE) END AS f5,
           CASE WHEN doc_id % 2 = 0 THEN CAST({px_min} AS DOUBLE)
                ELSE 1.0 END AS f6,
           CASE WHEN doc_id % 2 = 0 THEN CAST({px_max} AS DOUBLE)
                ELSE 16.0 END AS f7,
           CASE WHEN doc_id % 2 = 0 THEN 4.0 ELSE 8.0 END AS f8
    FROM documents
    """


@register("q_multimodal_decode", oracle=_mm_decode_oracle())
def q_multimodal_decode(spark, sf_dir):
    """REAL media decode through the Arrow featurizer: even doc_ids
    carry a 2x2 P6 PPM image, odd doc_ids a 16-bit mono RIFF/WAVE clip
    — both synthesized deterministically from md5(text) bytes — and the
    pure-Python parsers in operators/multimodal.py (header parse,
    raster/PCM extraction) produce per-modality features that DuckDB
    reproduces arithmetically from the same md5 bytes. This is the
    proof the decode path is real, not plumbing: a parser bug anywhere
    (header tokenizer, chunk walk, int16 LE decode) breaks the hash
    match. Codec formats (JPEG/MP4) remain honestly stubbed."""
    import struct as _struct

    docs = _t(spark, sf_dir, "documents")
    md5b = F.unhex(F.md5("text"))
    ppm = F.concat(F.lit(b"P6\n2 2\n255\n"), F.substring(md5b, 1, 12))
    wav_header = (
        b"RIFF" + _struct.pack("<I", 52) + b"WAVE"
        + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + _struct.pack("<I", 16)
    )
    wav = F.concat(F.lit(wav_header), F.substring(md5b, 1, 16))
    even = F.col("doc_id") % 2 == 0
    payload = F.when(even, ppm).otherwise(wav)
    wrapped = docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.when(even, "image").otherwise("audio").alias("kind"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("digest"),
        ).alias("meta"),
    )
    feats = M.extract_features(wrapped)
    return feats.select(
        "doc_id", "kind", "decode_status",
        *[F.element_at("features", i + 1).alias(f"f{i + 1}") for i in range(8)],
    )


@register(
    "q_multimodal_features",
    oracle="""
    WITH b AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents
    ),
    s AS (
        SELECT doc_id, n,
               CAST(list_sum(list_transform(generate_series(1, n),
                   i -> CAST(('0x' || substr(hx, 2*i-1, 2)) AS BIGINT)))
                    AS BIGINT) AS total
        FROM b
    )
    SELECT doc_id, 'text' AS kind, CAST(n AS BIGINT) AS n_bytes,
           'decoded' AS decode_status,
           CAST(n AS DOUBLE) AS f_len,
           CAST(total % 256 AS DOUBLE) AS f_mod256
    FROM s
    """,
)
def q_multimodal_features(spark, sf_dir):
    """Arrow-batched mapInPandas featurizer over binary payloads.
    Text-kind payloads take the byte-featurizer path (length, modular
    byte sums — deterministic byte arithmetic), which the oracle
    recomputes from the SAME UTF-8 bytes via hex-string extraction, so
    the Python batch stage is hash-checked end-to-end (formerly
    rows-only). Real PPM/WAV decode features are checked separately by
    q_multimodal_decode; codec-class formats stay stubbed."""
    docs = _t(spark, sf_dir, "documents")
    feats = M.extract_features(M.with_binary_payload(docs))
    return feats.select(
        "doc_id", "kind", "n_bytes", "decode_status",
        F.element_at("features", 1).alias("f_len"),
        F.element_at("features", 4).alias("f_mod256"),
    )


@register(
    "q_dedup_clusters",
    oracle=r"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh_all AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    sh AS (  -- hot-shingle document-frequency cap, same as the Spark side
        SELECT doc_id, shingle FROM sh_all
        WHERE shingle NOT IN (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 1000
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    ),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT LEAST(a, MIN(b)) AS cluster_id,
           COUNT(DISTINCT CASE WHEN b <> a THEN b END) + 1 AS n_docs
    FROM reach GROUP BY a
    HAVING LEAST(a, MIN(b)) = a
    """,
)
def q_dedup_clusters(spark, sf_dir):
    """Pairwise near-dup findings → dedup clusters: exact-Jaccard pairs
    (the q_ngram_jaccard edges) fed through iterative min-label
    connected components; one row per cluster (id = min doc_id in the
    component, plus its size). The oracle computes the same components
    with a recursive transitive-closure CTE — feasible only at test
    scale, which is exactly why the engine side is the iterative join
    form."""
    docs = _t(spark, sf_dir, "documents")
    edges = D.ngram_jaccard_pairs(docs, threshold=0.1).select("doc_a", "doc_b")
    comps = connected_components(edges, src="doc_a", dst="doc_b")
    return comps.groupBy(F.col("comp").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "q_tfidf_top_terms",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, term,
               round(tf * (ln((n_docs + CAST(1 AS DOUBLE)) / (df + 1)) + 1), 10)
                 AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf
    FROM (SELECT doc_id, term, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def q_tfidf_top_terms(spark, sf_dir):
    """TF-IDF with smoothed idf (ln((N+1)/(df+1)) + 1), top-3 terms per
    document. Term and document frequencies are exact integer counts;
    the score is rounded to 10 decimals BEFORE ranking so the ranking
    (and the emitted value) cannot depend on last-ulp ln() differences
    between engines. The doc-count scalar joins in as a 1-row broadcast,
    never a driver-side collect."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + 1)
                    )
                    + 1
                ),
                10,
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@register(
    "q_bm25",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           WHERE term IN ('join', 'shuffle', 'vector') GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    per_term AS (
        SELECT t.doc_id,
               CAST(round(
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * t.tf * (1.2 + 1)
                   / (t.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / avgdl)),
                   8) AS DECIMAL(38, 10)) AS s
        FROM tf t
        JOIN dfreq USING (term)
        JOIN dl d USING (doc_id)
        CROSS JOIN stats
    )
    SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS bm25
    FROM per_term GROUP BY doc_id
    """,
)
def q_bm25(spark, sf_dir):
    """BM25 relevance scoring (k1=1.2, b=0.75) for a fixed query-term
    set over the whole corpus — the lexical-retrieval half of a
    training-data / RAG pipeline. Corpus stats (N, avgdl) and document
    frequencies come from 1-row / tiny broadcast joins, never a driver
    collect; term frequencies and doc lengths are exact integer counts,
    so the only float inputs are avgdl (identical correctly-rounded
    double in both engines) and ln() (washed by round-to-8 BEFORE the
    decimal-sum, whose accumulation is order-independent). At 100 TB:
    one explode + two groupBys shuffled on term/doc_id — no all-pairs
    anything, broadcast joins for the scalar/dim sides."""
    terms = ("join", "shuffle", "vector")
    k1, b = 1.2, 0.75
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    per_term = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(
                    1
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * F.col("tf")
                * (k1 + 1)
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                ),
                8,
            )
            .cast("decimal(38,10)")
            .alias("s"),
        )
    )
    return per_term.groupBy("doc_id").agg(
        F.sum("s").cast("double").alias("bm25")
    )


@register(
    "q_embed_outliers",
    oracle="""
    WITH pos AS (
        SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings,
             UNNEST(generate_series(1, len(embedding))) AS u(i)
    ),
    cent AS (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS c
        FROM pos GROUP BY 1, 2
    ),
    dist AS (
        SELECT vec_id, p.label,
               round(sqrt(CAST(SUM(CAST((v - c) * (v - c) AS DECIMAL(38,10)))
                               AS DOUBLE)), 8) AS dist
        FROM pos p JOIN cent USING (label, pos)
        GROUP BY 1, 2
    )
    SELECT label, vec_id, dist
    FROM (SELECT label, vec_id, dist,
                 row_number() OVER (PARTITION BY label
                                    ORDER BY dist DESC, vec_id) AS rk
          FROM dist)
    WHERE rk <= 5
    """,
)
def q_embed_outliers(spark, sf_dir):
    """Per-label embedding centroids + the 5 farthest members of each
    label (outlier candidates for label-quality review). The centroid's
    per-position mean and each vector's squared-distance sum accumulate
    in DECIMAL(38,10), so both are partition-order independent; the
    distance is rounded to 8 decimals before ranking. Shuffles are keyed
    by (label, position) and vec_id — both uniform."""
    emb = _t(spark, sf_dir, "embeddings")
    pos = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "vf")
    ).select(
        "vec_id",
        "label",
        # DuckDB list indexing is 1-based; align. float→double is
        # exact (bit-widening), so both engines square identical doubles.
        (F.col("pos0") + 1).alias("pos"),
        F.col("vf").cast("double").alias("v"),
    )
    dec10 = "decimal(38,10)"
    cent = pos.groupBy("label", "pos").agg(
        (F.sum(F.col("v").cast(dec10)).cast("double") / F.count(F.lit(1))).alias("c")
    )
    diff = F.col("v") - F.col("c")
    dist = (
        pos.join(cent, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(F.sum((diff * diff).cast(dec10)).cast("double")), 8
            ).alias("dist")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("label").orderBy(F.col("dist").desc(), "vec_id")
    return (
        dist.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("label", "vec_id", "dist")
    )


@register(
    "q_pipeline_corpus_clean",
    oracle=r"""
    WITH RECURSIVE feats AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                    AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(lower(text), '[.,;:!?]'))
                    AS BIGINT) AS n_punct,
               CAST(len(regexp_extract_all(lower(text),
                    '\b(the|a|is|and|of|to|in|that|it|for)\b'))
                    AS BIGINT) AS n_stopwords,
               len(regexp_extract_all(lower(text), '\b(the|a|is|and|of)\b')) AS en,
               len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS de,
               len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS fr,
               len(regexp_extract_all(lower(text), '\b(el|los|las|y|es)\b')) AS es,
               len(regexp_extract_all(lower(text), '[\x{4e00}-\x{9fff}]')) AS zh,
               md5(text) AS fp, text
        FROM documents
    ),
    survivors AS (
        SELECT doc_id, source, n_tokens, fp, text,
               least(1.0, n_tokens / 50.0) * (1.0 - n_punct / n_tokens)
                 * (0.5 + 0.5 * (n_stopwords / n_tokens)) AS quality_score
        FROM feats
        WHERE n_tokens >= 5
          AND least(1.0, n_tokens / 50.0) * (1.0 - n_punct / n_tokens)
                 * (0.5 + 0.5 * (n_stopwords / n_tokens)) >= 0.3
          AND NOT (en=0 AND de=0 AND fr=0 AND es=0 AND zh=0)
          AND en >= de AND en >= fr AND en >= es AND en >= zh
    ),
    exact_kept AS (
        SELECT s.* FROM survivors s
        JOIN (SELECT fp, MIN(doc_id) AS keep_id FROM survivors GROUP BY fp) k
          ON s.doc_id = k.keep_id
    ),
    toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM exact_kept
    ),
    sh_all AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    sh AS (  -- hot-shingle document-frequency cap, same as the Spark side
        SELECT doc_id, shingle FROM sh_all
        WHERE shingle NOT IN (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 1000
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    ),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    dropped AS (
        SELECT a AS doc_id FROM reach GROUP BY a HAVING MIN(b) < a
    )
    SELECT source, COUNT(*) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(SUM(CAST(quality_score AS DECIMAL(38,10))) AS DOUBLE)
                 / COUNT(*), 10) AS avg_quality
    FROM exact_kept
    WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    GROUP BY source
    """,
)
def q_pipeline_corpus_clean(spark, sf_dir):
    """The composed training-data pipeline, end to end: quality filter
    (score ≥ 0.3, ≥ 5 tokens) → language filter (predicted English) →
    exact dedup (keep min doc_id per content hash) → fuzzy dedup
    (3-gram Jaccard ≥ 0.1 pairs → connected components → keep each
    cluster's min doc_id) → per-source corpus accounting. Every stage is
    an already-verified operator (text.quality_features, predict_lang,
    dedup.ngram_jaccard_pairs, components.connected_components); this
    query checks their composition against one oracle. The fuzzy stage
    only ever joins on shingle/doc ids — the pair blow-up bound and
    shuffle keys are identical to q_ngram_jaccard's."""
    docs = _t(spark, sf_dir, "documents")
    feats = T.quality_features(docs)
    survivors = (
        feats.withColumn("pred_lang", T.predict_lang("text"))
        .filter(
            (F.col("n_tokens") >= 5)
            & (F.col("quality_score") >= 0.3)
            & (F.col("pred_lang") == "en")
        )
        .withColumn("fp", T.fingerprint("text"))
        .select("doc_id", "source", "n_tokens", "quality_score", "fp", "text")
    )
    keepers = survivors.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    exact_kept = survivors.join(
        keepers,
        survivors.doc_id == keepers.keep_id,
        "left_semi",
    ).persist()

    edges = D.ngram_jaccard_pairs(
        exact_kept.select("doc_id", "text"), threshold=0.1
    ).select("doc_a", "doc_b")
    comps = connected_components(edges, src="doc_a", dst="doc_b")
    dropped = comps.filter(F.col("comp") < F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    kept = exact_kept.join(dropped, "doc_id", "left_anti")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum(F.col("quality_score").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            10,
        ).alias("avg_quality"),
    )


@register(
    "q_hash_split",
    oracle="""
    WITH b AS (
        SELECT source, n_chars,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 10 AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket = 8 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY 1
    """,
)
def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split by content-independent id
    hash (md5 prefix mod 10 → 80/10/10). Hash splits are how a 100 TB
    corpus is partitioned reproducibly: no RNG state, stable under
    re-runs and resharding, and any engine can recompute membership —
    which is exactly what the oracle does."""
    docs = _t(spark, sf_dir, "documents")
    bucket = T.fingerprint32(F.col("doc_id").cast("string")) % 10
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    return docs.select(split.alias("split"), "n_chars").groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "q_multimodal_resize",
    oracle="""
    SELECT doc_id, 'resized' AS resize_status,
           CAST(2048 AS BIGINT) AS n_bytes,
           md5(substr(hex(encode(text)) || repeat('00', 2048), 1, 4096))
               AS payload_md5
    FROM documents
    """,
)
def q_multimodal_resize(spark, sf_dir):
    """Resize plumbing over binary payloads (real mapInPandas batch
    shape; 64×32-byte targets). Text-kind payloads take the documented
    deterministic truncate/zero-pad path, and the output PAYLOAD BYTES
    are verified: the oracle reconstructs the same 2048-byte blob from
    the UTF-8 text and compares md5s — the Arrow 1-in-1-out transform
    is hash-checked end-to-end (formerly rows-only). Real pixel
    resampling for P6 images is checked by unit test (decode side by
    q_multimodal_decode); codec formats stay stubbed."""
    docs = _t(spark, sf_dir, "documents")
    binary = M.with_binary_payload(docs)
    resized = M.resize_payload(binary, width=64, height=32)
    return resized.select(
        "doc_id", "resize_status", "n_bytes",
        # md5 over the HEX rendering (uppercase on both engines):
        # DuckDB has no blob slicing, so byte equality is checked in
        # hex-string space.
        F.md5(F.hex("payload")).alias("payload_md5"),
    )


@register(
    "q_multimodal_frames",
    oracle="""
    WITH b AS (
        SELECT doc_id, encode(text) AS raw,
               octet_length(encode(text)) AS n
        FROM documents
    ),
    f AS (
        SELECT doc_id, raw, n, i, greatest(1, n // 3) AS step
        FROM b, UNNEST(generate_series(0, 2)) AS u(i)
    )
    SELECT doc_id, CAST(i AS INT) AS frame_index,
           CAST(i * 500 AS BIGINT) AS frame_ms,
           CAST(greatest(0, least(n, (i+1)*step) - i*step) AS BIGINT)
               AS n_bytes,
           md5(substr(hex(raw), CAST(i*step*2 + 1 AS BIGINT),
                      CAST(step*2 AS BIGINT))) AS payload_md5
    FROM f
    """,
)
def q_multimodal_frames(spark, sf_dir):
    """Frame sampling (1 row → 3 frame rows through Arrow batches).
    Frames are deterministic equal byte-slices (the codec-free stand-in
    for ffmpeg frame extraction), and each emitted FRAME PAYLOAD is
    verified: the oracle recomputes the same byte-slices from the
    UTF-8 text and compares md5s per (doc, frame) — the 1→N Arrow
    fan-out is hash-checked end-to-end (formerly rows-only)."""
    docs = _t(spark, sf_dir, "documents")
    binary = M.with_binary_payload(docs)
    frames = M.sample_frames(binary, n_frames=3, fps=2.0)
    return frames.select(
        "doc_id", "frame_index", "frame_ms", "n_bytes",
        # hex-space md5 — see q_multimodal_resize.
        F.md5(F.hex("payload")).alias("payload_md5"),
    )


@register(
    "q_data_quality",
    oracle="""
    WITH checks AS (
        SELECT COUNT(CASE WHEN NOT (text IS NOT NULL) THEN 1 END)
                 AS text_not_null,
               COUNT(CASE WHEN NOT (n_chars >= 1) THEN 1 END)
                 AS n_chars_positive,
               COUNT(CASE WHEN NOT (lang IN ('en','de','fr','es','zh'))
                     THEN 1 END) AS lang_known,
               COUNT(CASE WHEN NOT (length(text) = n_chars) THEN 1 END)
                 AS n_chars_consistent,
               COUNT(*) AS total
        FROM documents
    )
    SELECT 'text_not_null' AS rule, text_not_null AS n_violations,
           total AS n_rows FROM checks
    UNION ALL SELECT 'n_chars_positive', n_chars_positive, total FROM checks
    UNION ALL SELECT 'lang_known', lang_known, total FROM checks
    UNION ALL SELECT 'n_chars_consistent', n_chars_consistent, total
    FROM checks
    """,
)
def q_data_quality(spark, sf_dir):
    """Declarative expectation gate over the corpus: not-null, range,
    set-membership, and cross-column consistency rules evaluated as
    conditional aggregates in ONE scan (never a job per rule). The
    violation counts are the publish/block signal a pipeline acts on."""
    from big_data_projects_spark.operators.quality import violations_summary

    docs = _t(spark, sf_dir, "documents")
    rules = [
        ("text_not_null", F.col("text").isNotNull()),
        ("n_chars_positive", F.col("n_chars") >= 1),
        ("lang_known", F.col("lang").isin("en", "de", "fr", "es", "zh")),
        ("n_chars_consistent", F.length("text") == F.col("n_chars")),
    ]
    return violations_summary(docs, rules)


@register(
    "q_kmeans_clusters",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS partition_complete, TRUE AS k_bounded,
           TRUE AS multi_cluster, TRUE AS wss_le_tss
    FROM embeddings
    """,
)
def q_kmeans_clusters(spark, sf_dir):
    """Distributed k-means over the embedding corpus (deterministic
    k-means‖ seeding, Lloyd iterations in DataFrame ops) — the coarse
    quantizer that builds an IVF partitioning when no natural block
    key exists.

    The clustering itself is iterative and centroid-dependent, so
    per-cluster rows cannot be SQL-reproduced; instead the output is a
    one-row invariant summary in the same sketch-oracle pattern as
    q_hll_uniques: the exact corpus count (independently computable by
    the oracle) plus hash-checked booleans pinning that (a) every
    vector got exactly one assignment, (b) 1 ≤ n_clusters ≤ k,
    (c) the corpus actually splits (≥2 non-empty clusters), and
    (d) the within-cluster sum of squares — measured against the
    REALIZED cluster means — is ≤ the total sum of squares to the
    global mean, i.e. the clustering is never worse than the trivial
    k=1 partition (mathematically guaranteed for any true partition;
    a broken assign or update flips it). All checks are aggregates —
    a few extra shuffles over the 500-row corpus, same plan shape at
    any scale."""
    emb = _t(spark, sf_dir, "embeddings")
    k = 8
    assignments = S.kmeans_assign(emb, k=k, n_iter=2)
    joined = emb.join(assignments, "vec_id")
    ex = joined.select(
        "vec_id", "cluster",
        F.posexplode(
            F.expr("transform(embedding, x -> cast(x as double))")
        ).alias("pos", "x"),
    ).persist()
    cmeans = ex.groupBy("cluster", "pos").agg(F.avg("x").alias("cm"))
    gmeans = ex.groupBy("pos").agg(F.avg("x").alias("gm"))
    wss = (
        ex.join(F.broadcast(cmeans), ["cluster", "pos"])
        .agg(F.sum((F.col("x") - F.col("cm")) ** 2).alias("wss"))
    )
    tss = (
        ex.join(F.broadcast(gmeans), ["pos"])
        .agg(F.sum((F.col("x") - F.col("gm")) ** 2).alias("tss"))
    )
    stats = joined.agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.countDistinct("vec_id").alias("n_ids"),
        F.countDistinct("cluster").alias("n_clusters"),
    )
    total = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        total.crossJoin(stats).crossJoin(wss).crossJoin(tss).select(
            "n_vectors",
            (
                (F.col("n_assigned") == F.col("n_vectors"))
                & (F.col("n_ids") == F.col("n_vectors"))
            ).alias("partition_complete"),
            (
                (F.col("n_clusters") >= 1) & (F.col("n_clusters") <= k)
            ).alias("k_bounded"),
            (F.col("n_clusters") >= 2).alias("multi_cluster"),
            (F.col("wss") <= F.col("tss")).alias("wss_le_tss"),
        )
    )


@register(
    "q_knn_batch",
    oracle="""
    WITH iv AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   x -> CAST(CAST(FLOOR(x / greatest(sqrt(list_dot_product(
                            embedding::DOUBLE[], embedding::DOUBLE[])),
                            1e-300) * 1e6 + 0.5) AS BIGINT) AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM iv WHERE vec_id <= 7),
    scored AS (
        SELECT q.query_id, a.vec_id,
               CAST(list_dot_product(a.v, q.qv) AS BIGINT) AS dot_q
        FROM iv a CROSS JOIN q
        WHERE a.vec_id != q.query_id
    )
    SELECT query_id, vec_id, dot_q
    FROM (SELECT s.*, row_number() OVER (
              PARTITION BY query_id ORDER BY dot_q DESC, vec_id) AS rk
          FROM scored s)
    WHERE rk <= 5
    """,
)
def q_knn_batch(spark, sf_dir):
    """Batched ANN: top-5 neighbors for 8 query vectors in ONE corpus
    pass — a q×batch numpy matmul per Arrow chunk, per-query top-k
    merged by a partitioned window. The many-queries fast path
    complementing the JVM-fold single-query q_knn_cosine.

    Vectors are L2-normalized (np.add.accumulate == both engines'
    sequential fold) and micro-quantized, the matmul runs in int64
    (exact, order-free), so the Arrow Python stage hash-matches the SQL
    restatement — dots of integer-valued doubles below 2**53 are exact
    on the oracle side too."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.batch_topk_matmul(emb, query_ids=list(range(8)), k=5)


@register(
    "q_dedup_keep_best",
    oracle=r"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh_all AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    sh AS (  -- hot-shingle document-frequency cap, same as the Spark side
        SELECT doc_id, shingle FROM sh_all
        WHERE shingle NOT IN (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 1000
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    ),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
             FROM reach GROUP BY a),
    qual AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                    AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT cluster_id,
           max_by(c.doc_id, n_tokens * 100000000 - c.doc_id) AS kept_doc_id,
           MAX(n_tokens) AS kept_n_tokens
    FROM comp c JOIN qual USING (doc_id)
    GROUP BY cluster_id
    """,
)
def q_dedup_keep_best(spark, sf_dir):
    """Cluster-representative selection by QUALITY: within each
    near-dup cluster keep the doc with the most tokens (doc_id as
    tiebreak — smaller id wins ties via the negated id in the argmax
    key), instead of the arbitrary min-id of q_dedup_clusters. This is
    the policy real corpus dedup uses: keep the longest/cleanest
    variant, drop the rest."""
    docs = _t(spark, sf_dir, "documents")
    edges = D.ngram_jaccard_pairs(docs, threshold=0.1).select("doc_a", "doc_b")
    comps = connected_components(edges, src="doc_a", dst="doc_b")
    qual = docs.select(
        "doc_id", F.size(T.tokens("text")).cast("long").alias("n_tokens")
    )
    return (
        comps.join(qual, comps.node == qual.doc_id)
        .groupBy(F.col("comp").alias("cluster_id"))
        .agg(
            # scalar argmax key: monotone in (n_tokens asc, doc_id
            # desc) so the longest doc wins, smaller id breaks ties —
            # exact int64 arithmetic, identical on both engines.
            F.max_by(
                "doc_id",
                F.col("n_tokens") * F.lit(100000000) - F.col("doc_id"),
            ).alias("kept_doc_id"),
            F.max("n_tokens").alias("kept_n_tokens"),
        )
    )


def _pagerank_oracle(iterations: int = 10) -> str:
    # Unrolled power iteration in exact int64 "units" of 1e-15 — the
    # same integer recurrence pagerank_units runs (floor divisions,
    # order-free integer sums), so the ranks hash-match bit-for-bit.
    # The edge set is the q_ngram_jaccard pair CTE verbatim.
    levels = []
    for i in range(iterations):
        levels.append(f"""r{i + 1} AS (
        SELECT n.node,
               CAST((SELECT (3 * 1000000000000000) // (20 * n) FROM params)
                    + (17 * COALESCE(m.mass, 0)) // 20 AS BIGINT) AS r
        FROM nodes n LEFT JOIN (
            SELECT e.b AS node, CAST(SUM(r.r // d.deg) AS BIGINT) AS mass
            FROM edges e JOIN r{i} r ON r.node = e.a
                         JOIN deg d ON d.a = e.a
            GROUP BY e.b) m ON m.node = n.node
    )""")
    unrolled = ",\n    ".join(levels)
    return rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh_all AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    sh AS (
        SELECT doc_id, shingle FROM sh_all
        WHERE shingle NOT IN (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 1000
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    ),
    edges AS (
        SELECT DISTINCT a, b FROM (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION ALL
            SELECT doc_b AS a, doc_a AS b FROM pairs)
    ),
    deg AS (SELECT a, COUNT(*) AS deg FROM edges GROUP BY a),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    params AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
        SELECT node,
               CAST((SELECT 1000000000000000 // n FROM params) AS BIGINT) AS r
        FROM nodes
    ),
    {unrolled}
    SELECT node AS doc_id, r AS rank_units,
           CAST(r AS DOUBLE) / 1e15 AS rank
    FROM r{iterations}
    """


@register("q_pagerank_sim_graph", oracle=_pagerank_oracle(5))
def q_pagerank_sim_graph(spark, sf_dir):
    """PageRank centrality over the n-gram-Jaccard similarity graph
    (undirected, threshold 0.1): ranks every document that has at
    least one near-duplicate neighbor, a centrality-based way to pick
    cluster representatives (vs q_dedup_keep_best's quality argmax).

    Runs the exact integer-units power iteration (pagerank_units,
    operators/graph.py): int64 sums are order-free and restatable in
    any engine, so the formerly rows-only fixpoint is hash-matched
    end-to-end against an unrolled CTE oracle — edge set, degrees,
    every intermediate rank vector, and the final doubles.

    5 rounds, not the operator default 10 (round 7): the query's
    purpose is representative PICKING, i.e. the rank ORDERING — and
    the full ordering at 5 rounds is bit-identical to 10 rounds on
    both sf0.01 (47 nodes) and sf0.1 (485 nodes) similarity graphs
    (A/B in BASELINE.md@be14222; even 3 rounds agrees).  Near-dup similarity
    graphs are small dense clusters, so the power iteration's order
    stabilizes in a few hops; each dropped round saves one join+agg
    stage + a localCheckpoint.  The oracle unrolls the same 5 levels,
    so the hash-match stays bit-for-bit."""
    from big_data_projects_spark.operators.graph import pagerank_units

    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.1)
    edges = pairs.select("doc_a", "doc_b")
    return pagerank_units(edges, "doc_a", "doc_b", iterations=5).select(
        F.col("node").alias("doc_id"), "rank_units", "rank"
    )


@register(
    "q_triangle_count",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT
        (SELECT COUNT(DISTINCT p) FROM (
            SELECT p1 AS p FROM pairs UNION SELECT p2 FROM pairs)) AS n_nodes,
        (SELECT COUNT(*) FROM pairs) AS n_edges,
        (SELECT COUNT(*)
         FROM pairs e1
         JOIN pairs e2 ON e2.p1 = e1.p2
         WHERE EXISTS (SELECT 1 FROM pairs e3
                       WHERE e3.p1 = e1.p1 AND e3.p2 = e2.p2)) AS n_triangles
    """,
)
def q_triangle_count(spark, sf_dir):
    """Triangle count on the parts-co-ordered graph (edge = two parts
    appearing in the same order — the market-basket co-occurrence
    graph). Edge construction is a self-join bounded by per-order
    fan-out (≤7 lineitems/order in TPC-H shape, so ≤21 pairs/order —
    linear in lineitem); triangles are the standard wedge-close
    two-equi-join enumeration, each triangle {a<b<c} counted once.
    Exact-count oracle: same enumeration as correlated EXISTS in
    DuckDB."""
    from big_data_projects_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem")
    pairs = (
        li.alias("x")
        .join(
            li.alias("y"),
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(
            F.col("x.l_partkey").alias("p1"), F.col("y.l_partkey").alias("p2")
        )
        .distinct()
    )
    return triangle_count(pairs, "p1", "p2")


@register(
    "q_bigram_pmi",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    bi AS (
        SELECT t[i] AS a, t[i+1] AS b
        FROM toks, UNNEST(generate_series(1, len(t)-1)) AS u(i)
        WHERE len(t) >= 2
    ),
    uni AS (
        SELECT unnest(t) AS w FROM toks
    ),
    cb AS (SELECT a, b, COUNT(*) AS c_ab FROM bi GROUP BY 1, 2),
    cu AS (SELECT w, COUNT(*) AS c_w FROM uni GROUP BY 1),
    nb AS (SELECT COUNT(*) AS n_bi FROM bi),
    nu AS (SELECT COUNT(*) AS n_uni FROM uni)
    SELECT a, b, c_ab,
           round(ln((c_ab / CAST(n_bi AS DOUBLE))
                    / ((ca.c_w / CAST(n_uni AS DOUBLE))
                       * (cb2.c_w / CAST(n_uni AS DOUBLE)))), 10) AS pmi
    FROM cb
    JOIN cu ca ON cb.a = ca.w
    JOIN cu cb2 ON cb.b = cb2.w
    CROSS JOIN nb CROSS JOIN nu
    WHERE c_ab >= 5
    """,
)
def q_bigram_pmi(spark, sf_dir):
    """Collocation mining via pointwise mutual information over word
    bigrams — the classic phrase-detection signal for corpus curation.
    All probabilities come from exact integer counts; the PMI double is
    a fixed-shape expression (identical IEEE ops both engines) rounded
    to 10 decimals so last-ulp ln() differences can't leak. The two
    corpus totals join in as 1-row broadcasts; the only data-scale
    shuffles are the bigram/unigram count aggregates."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(T.tokens("text").alias("t"))
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS a, t[i+1] AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    uni = toks.select(F.explode("t").alias("w"))
    cb = bi.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    cu = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    n_bi = bi.agg(F.count(F.lit(1)).alias("n_bi"))
    n_uni = uni.agg(F.count(F.lit(1)).alias("n_uni"))
    ca = cu.select(F.col("w").alias("a"), F.col("c_w").alias("c_a"))
    cbw = cu.select(F.col("w").alias("b"), F.col("c_w").alias("c_b"))
    pmi = F.round(
        F.log(
            (F.col("c_ab") / F.col("n_bi").cast("double"))
            / (
                (F.col("c_a") / F.col("n_uni").cast("double"))
                * (F.col("c_b") / F.col("n_uni").cast("double"))
            )
        ),
        10,
    )
    return (
        cb.filter(F.col("c_ab") >= 5)
        .join(ca, "a")
        .join(cbw, "b")
        .join(F.broadcast(n_bi))
        .join(F.broadcast(n_uni))
        .select("a", "b", "c_ab", pmi.alias("pmi"))
    )


@register(
    "q_recursive_reachability",
    oracle=r"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh_all AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    sh AS (  -- hot-shingle document-frequency cap, same as the Spark side
        SELECT doc_id, shingle FROM sh_all
        WHERE shingle NOT IN (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 1000
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    ),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    seed AS (SELECT MIN(s) AS s0 FROM edges),
    walk(node, hop) AS (
        SELECT s0, 0 FROM seed
        UNION ALL
        SELECT e.d, w.hop + 1
        FROM walk w JOIN edges e ON w.node = e.s
        WHERE w.hop < 3
    )
    SELECT node AS doc_id, CAST(MIN(hop) AS INT) AS hops
    FROM walk GROUP BY node
    """,
)
def q_recursive_reachability(spark, sf_dir):
    """Recursive CTE (Spark 4): bounded-depth reachability from the
    lowest-id document through the n-gram-Jaccard similarity graph —
    WITH RECURSIVE runs IDENTICAL SQL text on Spark and DuckDB, the
    declarative counterpart of the DataFrame-loop connected components
    (components.py). Depth is bounded (hop < 3) because recursion over
    a cyclic graph enumerates paths, not nodes: the MIN(hop) aggregate
    collapses them; unbounded-depth closure belongs to the iterative
    operator, which dedups per round. The similarity pairs are built
    by the same DataFrame operator q_ngram_jaccard checks, exposed to
    SQL as a temp view."""
    docs = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.1)
    pairs.select("doc_a", "doc_b").createOrReplaceTempView("sim_pairs")
    return spark.sql(
        """
        WITH RECURSIVE edges AS (
            SELECT doc_a AS s, doc_b AS d FROM sim_pairs
            UNION ALL SELECT doc_b, doc_a FROM sim_pairs
        ),
        seed AS (SELECT MIN(s) AS s0 FROM edges),
        walk(node, hop) AS (
            SELECT s0, 0 FROM seed
            UNION ALL
            SELECT e.d, w.hop + 1
            FROM walk w JOIN edges e ON w.node = e.s
            WHERE w.hop < 3
        )
        SELECT node AS doc_id, CAST(MIN(hop) AS INT) AS hops
        FROM walk GROUP BY node
        """
    )


@register(
    "q_knn_int8",
    oracle="""
    WITH qv AS (
        SELECT vec_id,
               greatest(list_max(list_transform(embedding::DOUBLE[],
                                                x -> abs(x))) / 127.0,
                        1e-300) AS s,
               list_transform(embedding::DOUBLE[],
                   x -> floor(x / greatest(list_max(list_transform(
                            embedding::DOUBLE[], y -> abs(y))) / 127.0,
                            1e-300) + 0.5)) AS q
        FROM embeddings
    ),
    query AS (SELECT q AS qq, s AS qs FROM qv WHERE vec_id = 0)
    SELECT a.vec_id,
           (list_dot_product(a.q, query.qq) * a.s * query.qs) /
           (sqrt(list_dot_product(a.q, a.q)) * a.s *
            sqrt(list_dot_product(query.qq, query.qq)) * query.qs) AS sim_q
    FROM qv a, query
    WHERE a.vec_id != 0
    ORDER BY sim_q DESC, a.vec_id
    LIMIT 10
    """,
)
def q_knn_int8(spark, sf_dir):
    """ANN over int8-quantized embeddings (scalar quantization,
    per-vector scale): 4-8× smaller vector payload with exact integer
    dot products — the memory-bound scale path for serving similarity
    over a 100 TB corpus. Recall vs the exact top-k is pinned by a
    unit test. Formerly rows-only: the tie-exact floor(x/s + 0.5)
    quantizer (identical IEEE ops both engines, no round() tie-rule
    dependence) plus integer dots that are exactly representable as
    doubles make the whole search hash-match its SQL oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.quantized_topk_cosine(emb, query_id=0, k=10)


@register(
    "q_repetition",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(greatest(len(t) - 2, 0) AS BIGINT) AS n_g3,
               CAST(CASE WHEN len(t) >= 3 THEN (
                   SELECT COUNT(DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                   FROM UNNEST(generate_series(1, len(t)-2)) AS u(i)
               ) ELSE 0 END AS BIGINT) AS n_distinct_g3
        FROM toks
    ),
    topt AS (
        SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_token_count
        FROM (
            SELECT doc_id, w, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(t) AS w FROM toks)
            GROUP BY doc_id, w
        ) GROUP BY doc_id
    )
    SELECT g.doc_id, g.n_tokens, g.n_g3, g.n_distinct_g3,
           CASE WHEN g.n_g3 = 0 THEN 0.0
                ELSE 1.0 - n_distinct_g3 / CAST(n_g3 AS DOUBLE) END AS dup_gram_ratio,
           top_token_count / CAST(n_tokens AS DOUBLE) AS top_token_ratio,
           (CASE WHEN g.n_g3 = 0 THEN 0.0
                 ELSE 1.0 - n_distinct_g3 / CAST(n_g3 AS DOUBLE) END) > 0.5
               OR top_token_count / CAST(n_tokens AS DOUBLE) > 0.2
               AS is_repetitive
    FROM grams g JOIN topt USING (doc_id)
    """,
)
def q_repetition(spark, sf_dir):
    """Repetition detection (Gopher-style quality rule): fraction of
    duplicated word-3-grams inside the doc plus the most-frequent
    token's mass share; docs past either threshold get flagged. The
    gram ratio never explodes rows — size/array_distinct on the gram
    array per row; only the top-token pass shuffles, keyed on
    (doc, token). All ratios are exact-int divisions → identical
    doubles cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    t = T.tokens("text")
    # sequence(0, -1) is DESCENDING in Spark, so the short-doc case
    # must branch to an empty array instead of relying on the bound.
    grams = F.expr(
        "CASE WHEN size(__t) >= 3 THEN transform(sequence(0, size(__t) - 3),"
        " i -> concat_ws(' ', __t[i], __t[i+1], __t[i+2]))"
        " ELSE array() END"
    )
    base = docs.select("doc_id", t.alias("__t")).select(
        "doc_id",
        "__t",
        F.size("__t").cast("long").alias("n_tokens"),
        F.greatest(F.size("__t") - 2, F.lit(0)).cast("long").alias("n_g3"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct_g3"),
    )
    topt = (
        docs.select("doc_id", F.explode(t).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_token_count"))
    )
    dup_ratio = F.when(F.col("n_g3") == 0, 0.0).otherwise(
        1.0 - F.col("n_distinct_g3") / F.col("n_g3").cast("double")
    )
    top_ratio = F.col("top_token_count") / F.col("n_tokens").cast("double")
    return base.join(topt, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_g3",
        "n_distinct_g3",
        dup_ratio.alias("dup_gram_ratio"),
        top_ratio.alias("top_token_ratio"),
        ((dup_ratio > 0.5) | (top_ratio > 0.2)).alias("is_repetitive"),
    )


@register(
    "q_hard_negatives",
    oracle="""
    WITH ev AS (
        SELECT vec_id AS eval_id, label, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id < 64
    ),
    tr AS (
        SELECT vec_id AS neg_id, label, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id >= 64
    ),
    scored AS (
        SELECT ev.eval_id, tr.neg_id,
               list_dot_product(tr.v, ev.v) /
               (sqrt(list_dot_product(tr.v, tr.v)) *
                sqrt(list_dot_product(ev.v, ev.v))) AS sim
        FROM tr, ev WHERE tr.label != ev.label
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY eval_id ORDER BY sim DESC, neg_id) AS rk
        FROM scored
    )
    SELECT eval_id, neg_id, CAST(rk AS BIGINT) AS rk, sim
    FROM ranked WHERE rk <= 3
    """,
)
def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (contrastive training data): for each
    anchor in a FIXED-SIZE anchor set (vec_id < 64 — control-plane
    sized, never proportional to the corpus, the operator's broadcast
    contract), the 3 most cosine-similar vectors with a DIFFERENT
    label. Broadcast nested loop over the bounded anchor side, JVM-
    fold dot products (bit-identical to DuckDB list_dot_product, so
    even the float sims hash-match), anchor-partitioned rank window —
    no global sort. Corpus-proportional anchor sets route through
    q_hard_negatives_ann (LSH candidates, join-only)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.hard_negatives(emb, F.col("vec_id") < 64, k=3)


def _hn_ann_oracle() -> str:
    # The SAME deterministic hyperplanes as band_signature_cols (seeded
    # rng), embedded as STRING literals cast to DOUBLE[] (exact strtod
    # round-trip — see _rp_oracle). Both engines fold the dot product
    # sequentially over identical doubles, so even the sign bits (and
    # hence the candidate set) match bit-for-bit.
    bits, n_bands = 8, S.DEFAULT_LSH_BANDS
    planes = S._hyperplanes(64, bits * n_bands)

    def band_expr(j: int) -> str:
        terms = []
        for i in range(bits):
            lit = ", ".join("'" + repr(w) + "'" for w in planes[j * bits + i])
            terms.append(
                "(CASE WHEN list_dot_product(embedding::DOUBLE[], "
                f"[{lit}]::DOUBLE[]) > 0 THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms) + f" AS b{j}"

    bexprs = ",\n               ".join(band_expr(j) for j in range(n_bands))
    unions = "\n            UNION ALL ".join(
        f"SELECT ev.eval_id, tr.neg_id FROM ev JOIN tr ON ev.b{j} = tr.b{j}"
        for j in range(n_bands)
    )
    return f"""
    WITH ev AS (
        SELECT vec_id AS eval_id, label, embedding::DOUBLE[] AS v,
               {bexprs}
        FROM embeddings WHERE vec_id % 10 = 0
    ),
    tr AS (
        SELECT vec_id AS neg_id, label, embedding::DOUBLE[] AS v,
               {bexprs}
        FROM embeddings WHERE vec_id % 10 != 0
    ),
    cand AS (
        SELECT DISTINCT eval_id, neg_id FROM (
            {unions}
        )
    ),
    scored AS (
        SELECT c.eval_id, c.neg_id,
               list_dot_product(tr.v, ev.v) /
               (sqrt(list_dot_product(tr.v, tr.v)) *
                sqrt(list_dot_product(ev.v, ev.v))) AS sim
        FROM cand c
        JOIN ev ON ev.eval_id = c.eval_id
        JOIN tr ON tr.neg_id = c.neg_id
        WHERE tr.label != ev.label
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY eval_id ORDER BY sim DESC, neg_id) AS rk
        FROM scored
    )
    SELECT eval_id, neg_id, CAST(rk AS BIGINT) AS rk, sim
    FROM ranked WHERE rk <= 3
    """


@register("q_hard_negatives_ann", oracle=_hn_ann_oracle())
def q_hard_negatives_ann(spark, sf_dir):
    """Hard-negative mining at corpus scale: the anchor set here is 10%
    of the corpus — far too big to broadcast — so candidates come from
    LSH band-bucket equi-joins (anchors and corpus hash into the same
    sign-signature buckets) and only candidate pairs pay the exact
    cosine verify. Join-only plan: no broadcast proportional to any
    side, no nested loop (asserted in tests/test_plans.py). The
    deterministic planes make even this ANN path hash-match its oracle:
    DuckDB reproduces the exact candidate set from literal planes."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.hard_negatives_ann(
        emb, F.col("vec_id") % 10 == 0, dim=64, k=3, bits_per_band=8
    )


_SEMDEDUP_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS partition_complete, TRUE AS marks_sound,
           TRUE AS marks_complete, TRUE AS keeps_remain
    FROM embeddings
"""


def _semdedup_invariants(emb, marked, threshold: float):
    """One-row invariant summary for a semdedup marking (the
    sketch-oracle pattern: exact count + hash-checked booleans).

    The clustering is iterative so per-cluster rows are not
    SQL-reproducible; what IS exactly checkable is the marking
    semantics GIVEN the clustering: an INDEPENDENT within-cluster pair
    recomputation (direct cosine fold, not the operator's
    blocked_neardup_pairs path) asserts that is_dup holds for exactly
    the vectors with a lower-id cosine-≥τ neighbor in their cluster —
    ``marks_sound`` (no false marks) and ``marks_complete`` (no missed
    marks) together pin the keep-lowest-id policy end to end. The
    verify is a cluster-keyed equi-join, Σ n_c² pair work, the same
    scale shape as the operator itself."""
    cl = (
        emb.select("vec_id", "embedding")
        .join(marked, "vec_id")
        .select(
            "vec_id", "cluster", "is_dup",
            F.expr(
                "transform(embedding, x -> cast(x as double))"
            ).alias("v"),
        )
        .persist()
    )
    a = cl.select(
        F.col("cluster").alias("c"), F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
    )
    b = cl.select(
        F.col("cluster").alias("c"), F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"),
    )
    has_nb = (
        a.join(b, "c")
        .where(F.col("ib") < F.col("ia"))
        .where(S.cosine_sim_total(F.col("va"), F.col("vb")) >= threshold)
        .select(F.col("ia").alias("vec_id"))
        .distinct()
        .withColumn("__nb", F.lit(True))
    )
    flags = cl.join(has_nb, "vec_id", "left").select(
        "vec_id", "is_dup", F.coalesce("__nb", F.lit(False)).alias("nb")
    )
    checks = flags.agg(
        F.count(F.lit(1)).alias("n_marked"),
        F.countDistinct("vec_id").alias("n_ids"),
        F.min(~F.col("is_dup") | F.col("nb")).alias("marks_sound"),
        F.min(F.col("is_dup") | ~F.col("nb")).alias("marks_complete"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dups"),
    )
    total = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    return total.crossJoin(checks).select(
        "n_vectors",
        (
            (F.col("n_marked") == F.col("n_vectors"))
            & (F.col("n_ids") == F.col("n_vectors"))
        ).alias("partition_complete"),
        "marks_sound",
        "marks_complete",
        (F.col("n_dups") < F.col("n_vectors")).alias("keeps_remain"),
    )


@register("q_semdedup", oracle=_SEMDEDUP_ORACLE)
def q_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup (Abbas et al. 2023): k-means cluster the
    embedding corpus, mark within-cluster cosine-≥τ near-duplicates of a
    lower-id vector (keep-lowest-id). Pair work is within-cluster only
    (equi-join on cluster id), and k GROWS WITH THE CORPUS — one cheap
    count sizes k = max(8, n/64), keeping E[cluster size] ~64 so the
    within-cluster verify stays ~linear at any scale; no global
    pairwise pass (wall ratio pinned by tools/scale_smoke.py). τ is
    corpus-calibrated (0.3 on this synthetic corpus, where label-mates
    cluster near cosine ~0.35; real text embeddings use ~0.95).
    Output: the one-row invariant summary from _semdedup_invariants —
    exact corpus count plus booleans proving the marking is exactly
    the lower-id-neighbor relation within the realized clustering."""
    emb = _t(spark, sf_dir, "embeddings")
    k = max(8, emb.count() // 64)
    marked = S.semdedup(emb, k=k, threshold=0.3, n_iter=2)
    return _semdedup_invariants(emb, marked, threshold=0.3)


@register(
    "q_quality_classifier",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               CAST(list_sum(list_transform({_TOKS},
                   t -> (CAST(('0x' || substr(md5(t), 1, 6)) AS BIGINT) % 512)
                        * 2654435761 % 1000003 - 500001)) AS BIGINT) AS score
        FROM documents
    )
    SELECT doc_id, score, score > 0 AS keep FROM s
    """,
)
def q_quality_classifier(spark, sf_dir):
    """Model-based quality filtering, fasttext-shaped: hashed
    bag-of-words features (md5-24bit % 512 buckets) with a fixed
    per-bucket weight, summed per document, thresholded into a keep
    flag. The score is a zero-shuffle Catalyst aggregate fold inside
    the scan stage (operators/text.py:hashed_linear_score); a trained
    model swaps in a broadcast weight table with the identical plan.
    All-int64 arithmetic — scores hash-match the oracle exactly."""
    docs = _t(spark, sf_dir, "documents")
    score = T.hashed_linear_score(F.col("text")).alias("score")
    return docs.select("doc_id", score).select(
        "doc_id", "score", (F.col("score") > 0).alias("keep")
    )


def _rp_oracle() -> str:
    # The SAME deterministic plane matrix as the Spark side. Weights are
    # embedded as STRING literals cast to DOUBLE[]: a numeric list
    # literal would be unified to a common DECIMAL type first and lose
    # the last ulp, while VARCHAR→DOUBLE is a correctly-rounded strtod.
    # With f32-granular weights every product is exact, and both engines
    # sum the dot sequentially — so the doubles hash-match.
    planes = S.projection_planes(64, 8)
    cols = ",\n           ".join(
        "list_dot_product(embedding::DOUBLE[], ["
        + ", ".join("'" + repr(w) + "'" for w in p)
        + "]::DOUBLE[]) AS p" + str(i)
        for i, p in enumerate(planes)
    )
    return f"SELECT vec_id,\n           {cols}\n    FROM embeddings"


@register("q_random_projection", oracle=_rp_oracle())
def q_random_projection(spark, sf_dir):
    """Johnson–Lindenstrauss dimensionality reduction 64→8: per-vector
    Gaussian dot products as shuffle-free JVM folds inside the scan
    stage (operators/similarity.py:random_project). Even the projected
    doubles hash-match the oracle — both engines accumulate the dot
    sequentially over identical literal planes."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.random_project(emb, dim=64, out_dim=8)


@register(
    "q_bpe_merge_step",
    oracle=r"""
    WITH uni AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        FROM documents
    ),
    wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM uni GROUP BY w),
    pr AS (
        SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, f
        FROM wc, UNNEST(generate_series(1, len(w) - 1)) AS u(i)
        WHERE len(w) >= 2
    )
    SELECT a, b, CAST(SUM(f) AS BIGINT) AS pair_count
    FROM pr GROUP BY a, b
    ORDER BY pair_count DESC, a, b
    LIMIT 20
    """,
)
def q_bpe_merge_step(spark, sf_dir):
    """One BPE-trainer iteration at corpus scale (Sennrich et al.
    2016): count adjacent symbol pairs over the vocabulary WEIGHTED by
    word frequency and surface the top merge candidates. The classic
    trainer loops this; the distributed-expensive part is exactly this
    step. Shape: the corpus collapses to its word-type table first
    (one shuffle, then pair explosion runs over TYPES x their length —
    orders of magnitude smaller than token volume); top-20 via
    orderBy+limit (TakeOrderedAndProject, no global sort)."""
    docs = _t(spark, sf_dir, "documents")
    uni = docs.select(F.explode(T.tokens("text")).alias("w"))
    wc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    pairs = (
        wc.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> struct(substr(w, i, 1) AS a,"
                    " substr(w, i + 1, 1) AS b))"
                )
            ).alias("p"),
            "f",
        )
        .select("p.a", "p.b", "f")
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.sum("f").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "a", "b")
        .limit(20)
    )


PREFIX_K = 8


@register(
    "q_prefix_dedup",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    keyed AS (
        SELECT doc_id,
               md5(array_to_string(t[1:{PREFIX_K}], ' ')) AS ph,
               md5(array_to_string(
                   t[(CASE WHEN len(t) >= {PREFIX_K} THEN len(t) - {PREFIX_K} + 1
                           ELSE 1 END):len(t)], ' ')) AS sh
        FROM toks
    )
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY ph) AS prefix_rep,
           MIN(doc_id) OVER (PARTITION BY sh) AS suffix_rep,
           doc_id != MIN(doc_id) OVER (PARTITION BY ph) AS is_prefix_dup,
           doc_id != MIN(doc_id) OVER (PARTITION BY sh) AS is_suffix_dup
    FROM keyed
    """,
)
def q_prefix_dedup(spark, sf_dir):
    """Partial-overlap dedup: documents sharing an identical first-K or
    last-K token span (scraped pages re-served with different tails,
    truncated re-crawls) collapse to the lowest doc_id representative.
    Each doc carries its prefix/suffix group's representative and dup
    flags. Shape: md5 span keys, min-window PARTITIONED BY the hash
    (hash-distributed, high-cardinality) — never a global window; at
    100 TB this is two shuffles of (doc_id, 2 hashes), not of text."""
    docs = _t(spark, sf_dir, "documents")
    t = T.tokens("text")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(t, 1, PREFIX_K))).alias("ph"),
        F.md5(
            F.concat_ws(
                " ",
                F.when(
                    F.size(t) >= PREFIX_K, F.slice(t, -PREFIX_K, PREFIX_K)
                ).otherwise(t),
            )
        ).alias("sh"),
    )
    wp = Window.partitionBy("ph")
    ws = Window.partitionBy("sh")
    p_rep = F.min("doc_id").over(wp)
    s_rep = F.min("doc_id").over(ws)
    return keyed.select(
        "doc_id",
        p_rep.alias("prefix_rep"),
        s_rep.alias("suffix_rep"),
        (F.col("doc_id") != p_rep).alias("is_prefix_dup"),
        (F.col("doc_id") != s_rep).alias("is_suffix_dup"),
    )


@register(
    "q_label_propagation",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS (
        SELECT p1 AS a, p2 AS b FROM pairs
        UNION ALL SELECT p2, p1 FROM pairs
    ),
    l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
    n1 AS (
        SELECT s.a, l.label, COUNT(*) AS c
        FROM sym s JOIN l0 l ON s.b = l.node GROUP BY 1, 2
    ),
    l1 AS (
        SELECT a AS node, label FROM (
            SELECT a, label,
                   row_number() OVER (PARTITION BY a ORDER BY c DESC, label) AS rk
            FROM n1) WHERE rk = 1
    ),
    n2 AS (
        SELECT s.a, l.label, COUNT(*) AS c
        FROM sym s JOIN l1 l ON s.b = l.node GROUP BY 1, 2
    ),
    l2 AS (
        SELECT a AS node, label FROM (
            SELECT a, label,
                   row_number() OVER (PARTITION BY a ORDER BY c DESC, label) AS rk
            FROM n2) WHERE rk = 1
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS community
    FROM l2
    """,
)
def q_label_propagation(spark, sf_dir):
    """Community detection by synchronous label propagation over the
    parts-co-ordered graph — made deterministic (count-desc, min-label
    tiebreak; fixed 2 rounds) so even the per-node community labels
    hash-match the oracle's unrolled CTE rounds. The usual LPA is
    random-tie; determinism is what turns an unverifiable heuristic
    into a checkable operator. O(E) shuffle per round, argmax windows
    hash-partitioned by node."""
    from big_data_projects_spark.operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, "k")
        .filter(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
    )
    return label_propagation(pairs, n_iter=2, src="p1", dst="p2").select(
        F.col("node").cast("long").alias("node"),
        F.col("community").cast("long").alias("community"),
    )


@register("q_semdedup_hier", oracle=_SEMDEDUP_ORACLE)
def q_semdedup_hier(spark, sf_dir):
    """SemDeDup with the hierarchical blocking path FORCED (k=64 is
    past the flat-path cutoff): depth-log_branch(k) levels of
    branch-way Lloyd — the O(n·branch·log k) quantizer semdedup uses
    when k grows with the corpus, registered so the driver exercises
    the scale path directly rather than only through the smoke/tests.
    Output: the one-row invariant summary from _semdedup_invariants
    (exact count + marking-exactness booleans), same oracle pattern as
    q_semdedup."""
    emb = _t(spark, sf_dir, "embeddings")
    marked = S.semdedup(emb, k=64, threshold=0.3, n_iter=2)
    return _semdedup_invariants(emb, marked, threshold=0.3)


@register(
    "q_tfidf_cosine_pairs",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2
    ),
    n_docs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    w AS (
        SELECT t.doc_id, t.term,
               t.tf * round(ln(CAST(n.n AS DOUBLE) / d.df), 12) AS wt
        FROM tf t JOIN dfreq d USING (term) CROSS JOIN n_docs n
        WHERE d.df <= 1000
    ),
    norms AS (
        SELECT doc_id,
               sqrt(CAST(SUM(CAST(round(wt * wt, 12) AS DECIMAL(38,14)))
                         AS DOUBLE)) AS nrm
        FROM w GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(CAST(round(a.wt * b.wt, 12) AS DECIMAL(38,14)))
                    AS DOUBLE) AS dot
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b,
           round(d.dot / (na.nrm * nb.nrm), 8) AS sim
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE round(d.dot / (na.nrm * nb.nrm), 8) >= 0.9
    """,
)
def q_tfidf_cosine_pairs(spark, sf_dir):
    """Sparse-vector document similarity — the IR-classic complement
    of the dense-embedding family: TF-IDF weighted term vectors, pair
    dot products via a TERM-KEYED equi-join (a pair is computed only
    from the terms it shares — never a dense all-pairs pass), df-capped
    so boilerplate terms can't go quadratic, cosine ≥ 0.9 emitted.
    Determinism: idf lns round to 12 before multiplying, every product
    rounds to 12 and decimal-sums (order-independent), the final
    cosine rounds to 8 — so the float sims hash-match the oracle."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = tf.select("doc_id").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.join(dfreq, "term")
        .filter(F.col("df") <= 1000)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term",
            (
                F.col("tf")
                * F.round(F.log(F.col("n").cast("double") / F.col("df")), 12)
            ).alias("wt"),
        )
        .persist()  # consumed by norms AND both sides of the pair join
    )
    dsum14 = lambda c: F.sum(F.round(c, 12).cast("decimal(38,14)")).cast("double")
    norms = w.groupBy("doc_id").agg(
        F.sqrt(dsum14(F.col("wt") * F.col("wt"))).alias("nrm")
    )
    a = w.select(F.col("doc_id").alias("doc_a"), "term", F.col("wt").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("wt").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(dsum14(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    sim = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 8)
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", sim.alias("sim"))
        .filter(sim >= 0.9)
    )


def _pq_oracle(train_rounds: int = 2, rerank: int = 50, k: int = 10) -> str:
    # Unrolled integer-Lloyd PQ: round r = exact-int argmin assignment
    # (a{r}) + floor-div centroid update (s{r} → cb{r+1}, empty codes
    # keep the old centroid); then ADC candidates vs the final codebook
    # and an exact-cosine re-rank — the same pipeline pq_topk runs.
    def dist_cte(name, cbname):
        return f"""{name} AS (
        SELECT iv.vec_id, {cbname}.j, {cbname}.code,
               CAST(list_sum(list_transform(generate_series(1, 8),
                   d -> (iv.v[{cbname}.j*8+d] - {cbname}.sv[d])
                        * (iv.v[{cbname}.j*8+d] - {cbname}.sv[d])))
                    AS BIGINT) AS dist
        FROM iv CROSS JOIN {cbname}
    )"""

    def argmin_cte(name, dname):
        return f"""{name} AS (
        SELECT vec_id, j, code FROM (
            SELECT d.*, row_number() OVER (
                PARTITION BY vec_id, j ORDER BY dist, code) AS rk
            FROM {dname} d)
        WHERE rk = 1
    )"""

    rounds = []
    for r in range(train_rounds):
        rounds.append(dist_cte(f"d{r}", f"cb{r}"))
        rounds.append(argmin_cte(f"a{r}", f"d{r}"))
        rounds.append(f"""s{r} AS (
        SELECT a.j, a.code, u.d,
               CAST(FLOOR(CAST(SUM(iv.v[a.j*8+u.d]) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS m
        FROM a{r} a JOIN iv USING (vec_id),
             UNNEST(generate_series(1, 8)) AS u(d)
        GROUP BY a.j, a.code, u.d
    )""")
        rounds.append(f"""cb{r + 1} AS (
        SELECT c.code, c.j, COALESCE(n.sv, c.sv) AS sv
        FROM cb{r} c LEFT JOIN (
            SELECT j, code, list(m ORDER BY d) AS sv
            FROM s{r} GROUP BY j, code) n
          ON n.j = c.j AND n.code = c.code
    )""")
    R = train_rounds
    rounds.append(dist_cte("dF", f"cb{R}"))
    rounds.append(argmin_cte("aF", "dF"))
    unrolled = ",\n    ".join(rounds)
    return f"""
    WITH iv AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   x -> CAST(FLOOR(x / greatest(sqrt(list_dot_product(
                            embedding::DOUBLE[], embedding::DOUBLE[])),
                            1e-300) * 1e6 + 0.5) AS BIGINT)) AS v
        FROM embeddings
    ),
    seeds AS (
        SELECT vec_id AS code, v
        FROM iv ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    cb0 AS (
        SELECT code, j, seeds.v[j*8+1 : j*8+8] AS sv
        FROM seeds, UNNEST(generate_series(0, 7)) AS u(j)
    ),
    {unrolled},
    cand AS (
        SELECT c.vec_id, CAST(SUM(q.dist) AS BIGINT) AS adc_dist
        FROM aF c JOIN (SELECT j, code, dist FROM dF WHERE vec_id = 0) q
          ON c.j = q.j AND c.code = q.code
        WHERE c.vec_id != 0
        GROUP BY c.vec_id
        ORDER BY adc_dist, c.vec_id
        LIMIT {rerank}
    )
    SELECT e.vec_id,
           list_dot_product(e.embedding::DOUBLE[], qe.qv) /
           (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                  e.embedding::DOUBLE[])) *
            sqrt(list_dot_product(qe.qv, qe.qv))) AS sim
    FROM cand JOIN embeddings e USING (vec_id)
    CROSS JOIN (SELECT embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id = 0) qe
    ORDER BY sim DESC, e.vec_id
    LIMIT {k}
    """


@register("q_knn_pq", oracle=_pq_oracle())
def q_knn_pq(spark, sf_dir):
    """Product-quantization ANN (FAISS-IndexPQ shape): 8 subspaces x 16
    codes trained by 2 integer-Lloyd rounds, ADC top-50 candidates,
    exact-cosine re-rank to top-10 for query vec 0 — the 32x
    memory-compression point of the ANN family (exact → int8 4x → PQ
    32x). Every index quantity is exact int64 arithmetic (normalized
    micro-unit coordinates, int argmins with smallest-code ties,
    floor-div centroid updates, int ADC sums), so codebook training,
    assignment, candidate generation AND the float re-rank hash-match
    the unrolled SQL oracle end-to-end. See operators/similarity.pq_topk
    for the scale contract (broadcast control-plane codebooks, no
    shuffle in encode)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.pq_topk(emb, query_id=0, k=10)


@register(
    "q_inverted_index",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2
    ),
    stats AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(tf) AS BIGINT) AS cf
        FROM tf GROUP BY term HAVING COUNT(*) <= 1000
    )
    SELECT s.term, s.df, s.cf,
           array_to_string(
               (list(t.doc_id ORDER BY t.tf DESC, t.doc_id))[1:8],
               ',') AS postings,
           MAX(t.tf) AS top_tf
    FROM stats s JOIN tf t USING (term)
    GROUP BY s.term, s.df, s.cf
    """,
)
def q_inverted_index(spark, sf_dir):
    """Inverted-index construction — the IR-serving complement of the
    TF-IDF/BM25 scorers: per term its document frequency, collection
    frequency, and an impact-ordered posting list (top-8 doc_ids by
    term frequency, doc_id tiebreak; serialized as a CSV string so the
    oracle compares exactly).

    Scale shape: one explode → (term, doc) count → term-keyed stats.
    The posting-list rank is a window PARTITIONED BY TERM, which is
    only safe because the df-cap (HAVING df <= 1000, the same constant
    as the shingle cap) bounds every partition first — an uncapped
    stopword posting would funnel millions of rows through one reducer.
    Hot terms are exactly the ones IDF scoring discards anyway."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    ).filter(F.col("df") <= 1000)
    w = Window.partitionBy("term").orderBy(F.desc("tf"), "doc_id")
    ranked = (
        tf.join(stats, "term")
        .withColumn("__rk", F.row_number().over(w))
    )
    return ranked.groupBy("term", "df", "cf").agg(
        F.concat_ws(
            ",",
            F.expr(
                "transform(slice(array_sort(collect_list("
                "struct(__rk, doc_id))), 1, 8), x -> x.doc_id)"
            ),
        ).alias("postings"),
        F.max("tf").alias("top_tf"),
    )


@register(
    "q_containment_pairs",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh_all AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    sh AS (
        SELECT doc_id, shingle FROM sh_all
        WHERE shingle NOT IN (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 1000
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           n_common / sa.n_sh AS cont_a,
           n_common / sb.n_sh AS cont_b
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE greatest(n_common / sa.n_sh, n_common / sb.n_sh) >= 0.5
    """,
)
def q_containment_pairs(spark, sf_dir):
    """Asymmetric shingle CONTAINMENT pairs — the quote/subset-dup
    detector Jaccard misses: a short doc fully embedded in a long one
    has high containment |A∩B|/|A| but low Jaccard (the union is
    dominated by the long doc). Emits both directions' containments for
    pairs where either side ≥ 0.5. Same df-capped shingle equi-join as
    q_ngram_jaccard (anti-join on hot shingles, never a cross join) —
    only the final scoring differs, so the candidate plan inherits the
    smoke-verified sub-proportional scaling."""
    docs = _t(spark, sf_dir, "documents")
    sh_all = D.shingles(docs, "doc_id", "text").persist()
    hot = (
        sh_all.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > 1000)
        .select("shingle")
    )
    # capped relation feeds three consumers (sizes + both join sides)
    sh = sh_all.join(hot, "shingle", "left_anti").persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.col("n_common") / F.col("na")).alias("cont_a"),
            (F.col("n_common") / F.col("nb")).alias("cont_b"),
        )
        .filter(F.greatest("cont_a", "cont_b") >= 0.5)
    )


def _mmr_oracle(k: int = 10, pool: int = 50, lam: float = 0.7) -> str:
    # The greedy MMR trajectory unrolled: sel{r} picks the argmax of
    # lam*qsim - (1-lam)*max(sim to already-selected), id tiebreak.
    # CTEs are MATERIALIZED: DuckDB inlines plain CTEs, and the
    # recursive sel{r} references would expand exponentially (each
    # re-scanning the parquet — measured as an fd explosion).
    # Float literals are emitted as repr(double)e0 so BOTH engines use
    # the exact same IEEE constants (writing "0.3" would hand DuckDB a
    # decimal that casts to a DIFFERENT double than Python's 1.0-0.7).
    l_ = f"{lam!r}e0"
    ml = f"{(1.0 - lam)!r}e0"
    cos = (
        "list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * "
        "sqrt(list_dot_product({b}, {b})))"
    )
    levels = [f"""sel1 AS MATERIALIZED (
        SELECT 1 AS rank, cid, {l_} * qsim - {ml} * 0.0e0 AS score
        FROM cands ORDER BY {l_} * qsim - {ml} * 0.0e0 DESC, cid LIMIT 1
    )"""]
    for r in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT cid FROM sel{i}" for i in range(1, r)
        )
        levels.append(f"""sel{r} AS MATERIALIZED (
        SELECT {r} AS rank, c.cid, {l_} * c.qsim - {ml} * m.mx AS score
        FROM cands c JOIN (
            SELECT ia, MAX(s) AS mx FROM ps
            WHERE ib IN ({prev}) GROUP BY ia) m ON m.ia = c.cid
        WHERE c.cid NOT IN ({prev})
        ORDER BY score DESC, c.cid LIMIT 1
    )""")
    unrolled = ",\n    ".join(levels)
    final = " UNION ALL ".join(
        f"SELECT rank, cid AS vec_id, score FROM sel{i}"
        for i in range(1, k + 1)
    )
    qcos = cos.format(a="a.embedding::DOUBLE[]", b="q.qv")
    pcos = cos.format(a="ex.embedding::DOUBLE[]", b="ey.embedding::DOUBLE[]")
    return f"""
    WITH cands AS MATERIALIZED (
        SELECT a.vec_id AS cid, {qcos} AS qsim
        FROM embeddings a,
             (SELECT embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id = 0) q
        WHERE a.vec_id != 0
        ORDER BY qsim DESC, a.vec_id LIMIT {pool}
    ),
    ps AS MATERIALIZED (
        SELECT x.cid AS ia, y.cid AS ib, {pcos} AS s
        FROM cands x
        JOIN embeddings ex ON ex.vec_id = x.cid
        JOIN cands y ON y.cid != x.cid
        JOIN embeddings ey ON ey.vec_id = y.cid
    ),
    {unrolled}
    {final}
    """


@register("q_mmr_diversity", oracle=_mmr_oracle())
def q_mmr_diversity(spark, sf_dir):
    """Maximal-marginal-relevance diversity selection: 10 greedy picks
    from the top-50 cosine candidates of query vec 0, each round
    penalizing similarity to what is already selected (lambda = 0.7) —
    the diverse-subset re-rank that keeps a retrieval/training sample
    from collapsing into one near-duplicate neighborhood. The corpus
    pays one top-k pass; the greedy loop runs on the control-plane pool
    (operators/similarity.mmr_select). The whole greedy trajectory —
    candidate sims, per-round scores, tiebreaks — hash-matches a
    10-level unrolled CTE oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.mmr_select(emb, query_id=0, k=10, pool=50, lam=0.7)


@register(
    "q_rank_fusion",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           WHERE term IN ('join', 'shuffle', 'vector') GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    per_term AS (
        SELECT t.doc_id,
               CAST(round(
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * t.tf * (1.2 + 1)
                   / (t.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / avgdl)),
                   8) AS DECIMAL(38, 10)) AS s
        FROM tf t
        JOIN dfreq USING (term)
        JOIN dl d USING (doc_id)
        CROSS JOIN stats
    ),
    bm AS (SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS bm25
           FROM per_term GROUP BY doc_id),
    lex AS (
        SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
        FROM bm ORDER BY bm25 DESC, doc_id LIMIT 100
    ),
    sims AS (
        SELECT a.vec_id,
               list_dot_product(a.embedding::DOUBLE[], q.qv) /
               (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                      a.embedding::DOUBLE[])) *
                sqrt(list_dot_product(q.qv, q.qv))) AS sim
        FROM embeddings a,
             (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 0) q
        WHERE a.vec_id != 0
    ),
    dense AS (
        SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS r
        FROM sims ORDER BY sim DESC, vec_id LIMIT 100
    )
    SELECT CAST(COALESCE(l.doc_id, d.vec_id) AS BIGINT) AS id,
           CAST(l.r AS BIGINT) AS lex_r,
           CAST(d.r AS BIGINT) AS dense_r,
           COALESCE(1.0 / (60 + l.r), 0.0)
             + COALESCE(1.0 / (60 + d.r), 0.0) AS rrf
    FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.vec_id
    ORDER BY rrf DESC, id LIMIT 20
    """,
)
def q_rank_fusion(spark, sf_dir):
    """Hybrid-retrieval reciprocal-rank fusion (RRF, k=60): the lexical
    BM25 top-100 (q_bm25's scorer, composed via its raw builder) and
    the dense cosine top-100 against query vec 0 (topk_cosine) are
    rank-fused with score = Σ 1/(60+rank), missing-from-a-list
    contributing 0 — the standard hybrid-search merge (Cormack et al.).

    Scale shape: each arm is its own corpus pass ending in a bounded
    TakeOrderedAndProject top-100; the rank windows then run over
    ≤100-row relations (a single-partition window over a control-plane
    list is the sanctioned exception to the no-global-window rule —
    the corpus itself never sees a global sort), and the fusion is a
    100×100 full-outer equi-join. Floats: BM25 and cosine doubles are
    bit-identical to the oracle (proven by their parent queries), so
    ranks agree exactly; the RRF score is integer-reciprocal sums in a
    fixed order."""
    lex_scores = q_bm25(spark, sf_dir)
    dense_scores = S.topk_cosine(
        _t(spark, sf_dir, "embeddings"), query_id=0, k=100
    )
    wl = Window.orderBy(F.desc("bm25"), "doc_id")
    wd = Window.orderBy(F.desc("sim"), "vec_id")
    lex = (
        lex_scores.orderBy(F.desc("bm25"), "doc_id").limit(100)
        .select("doc_id", F.row_number().over(wl).alias("lr"))
    )
    dense = (
        dense_scores
        .select("vec_id", F.row_number().over(wd).alias("dr"))
    )
    fused = lex.join(
        dense, lex["doc_id"] == dense["vec_id"], "full_outer"
    ).select(
        F.coalesce("doc_id", "vec_id").cast("long").alias("id"),
        F.col("lr").cast("long").alias("lex_r"),
        F.col("dr").cast("long").alias("dense_r"),
        (
            F.coalesce(1.0 / (60 + F.col("lr")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("dr")), F.lit(0.0))
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), "id").limit(20)


@register(
    "q_kn_bigram_ppl",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    bi AS (
        SELECT doc_id, t[i] AS a, t[i+1] AS b
        FROM toks, UNNEST(generate_series(1, len(t)-1)) AS u(i)
        WHERE len(t) >= 2
    ),
    cb AS (SELECT a, b, COUNT(*) AS c_ab FROM bi GROUP BY 1, 2),
    cl AS (SELECT a, COUNT(*) AS c_l FROM bi GROUP BY 1),
    n1l AS (SELECT a, COUNT(*) AS n1p_l FROM cb GROUP BY 1),
    n1r AS (SELECT b, COUNT(*) AS n1p_r FROM cb GROUP BY 1),
    nt AS (SELECT COUNT(*) AS n1p_tot FROM cb),
    p AS (
        SELECT bi.doc_id,
               CAST(round(-ln(
                 (greatest(CAST(c_ab AS DOUBLE) - 0.75, 0.0)
                  + (0.75 * CAST(n1p_l AS DOUBLE))
                    * (CAST(n1p_r AS DOUBLE) / CAST(n1p_tot AS DOUBLE)))
                 / CAST(c_l AS DOUBLE)), 12) AS DECIMAL(38,14)) AS x
        FROM bi JOIN cb USING (a, b) JOIN cl USING (a)
                JOIN n1l USING (a) JOIN n1r USING (b) CROSS JOIN nt
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(x) AS DOUBLE) AS s
        FROM p GROUP BY 1
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           round(exp(s / n_bigrams), 8) AS kn_ppl
    FROM agg
    """,
)
def q_kn_bigram_ppl(spark, sf_dir):
    """Interpolated Kneser-Ney bigram LM perplexity per document
    (Kneser & Ney 1995; Chen & Goodman 1998) — the classic
    count-based LM quality filter one step up from q_unigram_ppl:
    P(w2|w1) = (max(c(w1,w2)−D, 0) + D·N1+(w1,·)·Pcont(w2)) / c(w1·)
    with discount D = 0.75 and the continuation probability
    Pcont(w2) = N1+(·,w2)/N1+(·,·), so frequent-but-unproductive
    bigrams ("san francisco") stop inflating their second word's
    unigram weight.

    All model quantities are exact integer count tables (bigram
    counts, left-context totals, left/right continuation type counts);
    the probability is one fixed-shape double expression written
    identically in both engines, each token's −ln P rounds to 12 and
    decimal-sums per doc (shuffle-order-independent), and the final
    exp rounds to 8 — hash-matches the oracle. Plan at 100 TB:
    bigrams generate IN-ROW (transform over sequence — no position
    self-join), three count shuffles keyed on bigram/context, the
    1-row type total broadcasts, per-doc scoring is bigram-keyed
    equi-joins + one doc_id aggregate; docs with <2 tokens drop out
    naturally on both sides."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.tokens("text").alias("t"))
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS a, t[i+1] AS b))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.a", "p.b")
        .persist()  # feeds three count tables + the scoring join
    )
    cb = bi.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    cl = bi.groupBy("a").agg(F.count(F.lit(1)).alias("c_l"))
    n1l = cb.groupBy("a").agg(F.count(F.lit(1)).alias("n1p_l"))
    n1r = cb.groupBy("b").agg(F.count(F.lit(1)).alias("n1p_r"))
    nt = cb.agg(F.count(F.lit(1)).alias("n1p_tot"))
    p_kn = (
        F.greatest(
            F.col("c_ab").cast("double") - F.lit(0.75), F.lit(0.0)
        )
        + (F.lit(0.75) * F.col("n1p_l").cast("double"))
        * (F.col("n1p_r").cast("double") / F.col("n1p_tot").cast("double"))
    ) / F.col("c_l").cast("double")
    scored = (
        bi.join(cb, ["a", "b"])
        .join(cl, "a")
        .join(n1l, "a")
        .join(n1r, "b")
        .join(F.broadcast(nt))
        .select(
            "doc_id",
            F.round(-F.log(p_kn), 12).cast("decimal(38,14)").alias("x"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("x").cast("double").alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(F.exp(F.col("s") / F.col("n_bigrams")), 8).alias(
                "kn_ppl"
            ),
        )
    )


@register(
    "q_pipeline_ccnet",
    oracle=r"""
    WITH langs AS (
        SELECT doc_id,
            CASE WHEN en=0 AND de=0 AND fr=0 AND es=0 AND zh=0 THEN 'unknown'
                 WHEN en>=de AND en>=fr AND en>=es AND en>=zh THEN 'en'
                 WHEN de>=fr AND de>=es AND de>=zh THEN 'de'
                 WHEN fr>=es AND fr>=zh THEN 'fr'
                 WHEN es>=zh THEN 'es'
                 ELSE 'zh' END AS pred_lang
        FROM (
            SELECT doc_id,
                len(regexp_extract_all(lower(text), '\b(the|a|is|and|of)\b')) AS en,
                len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS de,
                len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS fr,
                len(regexp_extract_all(lower(text), '\b(el|los|las|y|es)\b')) AS es,
                len(regexp_extract_all(lower(text), '[\x{4e00}-\x{9fff}]')) AS zh
            FROM documents)
    ),
    toks AS (
        SELECT d.doc_id, l.pred_lang,
               unnest(regexp_split_to_array(trim(lower(d.text)), '\s+'))
                 AS term
        FROM documents d JOIN langs l USING (doc_id)
    ),
    cf AS (SELECT pred_lang, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    tot AS (SELECT pred_lang, COUNT(*) AS n, COUNT(DISTINCT term) AS v
            FROM toks GROUP BY 1),
    nll AS (
        SELECT t.doc_id, t.pred_lang,
               CAST(round(-ln((c + 1.0) / (n + v)), 12) AS DECIMAL(38,14))
                 AS x
        FROM toks t JOIN cf USING (pred_lang, term)
                    JOIN tot USING (pred_lang)
    ),
    ppl AS (
        SELECT doc_id, pred_lang,
               round(exp(CAST(SUM(x) AS DOUBLE) / COUNT(*)), 8) AS ppl
        FROM nll GROUP BY 1, 2
    ),
    ranked AS (
        SELECT doc_id, pred_lang, ppl,
               ROW_NUMBER() OVER (PARTITION BY pred_lang
                                  ORDER BY ppl, doc_id) AS r,
               COUNT(*) OVER (PARTITION BY pred_lang) AS n_lang
        FROM ppl
    ),
    keeps AS (
        SELECT doc_id,
               doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep
        FROM documents
    ),
    b AS (
        SELECT pred_lang,
               CAST((3 * (r - 1)) // n_lang AS INT) + 1 AS bucket, ppl, keep
        FROM ranked JOIN keeps USING (doc_id)
    )
    SELECT pred_lang,
           CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(CAST(SUM(CAST(ppl AS DECIMAL(38,14))) AS DOUBLE)
                 / COUNT(*), 8) AS avg_ppl
    FROM b GROUP BY 1, 2
    """,
)
def q_pipeline_ccnet(spark, sf_dir):
    """CCNet-shaped corpus curation pipeline (Wenzek et al. 2020),
    composed end-to-end from this repo's operators: language-ID
    (marker-word heuristic) → PER-LANGUAGE unigram-LM perplexity →
    head/middle/tail terciles within each language (CCNet's quality
    bucketing) → exact md5 dedup (keep-lowest-id) → per-(lang, bucket)
    accounting with kept counts and mean perplexity.

    Scale design: the tercile needs a per-language rank, which at
    100 TB with ~6 languages would make a per-lang window 6 giant
    single-task partitions — so the rank comes from ONE global
    sharded_row_number over (lang, ppl, doc_id) (distributed
    prefix-sum, 32-shard range partition, the only single-partition
    window sees 32 aggregated rows) and per-lang ranks are recovered
    by subtracting each language's broadcast min-rank. Bucket
    boundaries are exact integer arithmetic ((3·r0) DIV n_lang), the
    md5 dedup window partitions by the high-cardinality fingerprint,
    and every float (ln round-12, decimal sum, ppl round-8, avg
    round-8) follows the repo's determinism conventions — the whole
    composed pipeline hash-matches the oracle."""
    from big_data_projects_spark.operators.relational import (
        sharded_row_number,
    )

    docs = _t(spark, sf_dir, "documents")
    # Per-doc lang-id (≈5 regex passes over corpus bytes) + the token
    # explode run in the scan stage — single-threaded on a
    # one-row-group testdata scan; spread the raw rows across cores
    # first (no-op at real scale — see data.spread_small_scan; r12).
    from big_data_projects_spark.data import spread_small_scan

    langs = spread_small_scan(docs.select("doc_id", "text")).select(
        "doc_id", "text", T.predict_lang("text").alias("pred_lang")
    )
    toks = langs.select(
        "doc_id", "pred_lang", F.explode(T.tokens("text")).alias("term")
    ).persist()  # feeds the count tables AND the per-token scoring join
    # Materialize the cache eagerly (r13): its three consumers (cf,
    # tot, the scoring join) launch as CONCURRENT stages inside the
    # final action, and an unmaterialized persisted relation gets
    # recomputed by every racing stage — here that subtree is the
    # 5-regex lang-id + tokenize + explode, the query's most expensive
    # pass.  Controlled A/B: min 6.80 -> 4.42 s (every sample down).
    # Same pattern as q_lsh_quality's shared shingle cache; the
    # opposite call (rejected) is documented at ngram_jaccard_pairs,
    # whose cheap capped relation wasn't worth the extra pass.
    toks.count()
    cf = toks.groupBy("pred_lang", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = toks.groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("term").alias("v")
    )
    nll = (
        toks.join(cf, ["pred_lang", "term"])
        .join(F.broadcast(tot), "pred_lang")
        .select(
            "doc_id", "pred_lang",
            F.round(
                -F.log(
                    (F.col("c") + F.lit(1.0)) / (F.col("n") + F.col("v"))
                ),
                12,
            )
            .cast("decimal(38,14)")
            .alias("x"),
        )
    )
    ppl = (
        nll.groupBy("doc_id", "pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("x").cast("double").alias("s"),
        )
        .select(
            "doc_id", "pred_lang",
            F.round(F.exp(F.col("s") / F.col("n_toks")), 8).alias("ppl"),
        )
    )
    ranked = sharded_row_number(
        ppl, ["pred_lang", "ppl", "doc_id"], out_col="grn"
    ).persist()  # consumed by lang_stats AND the bucket join
    lang_stats = ranked.groupBy("pred_lang").agg(
        F.min("grn").alias("base"), F.count(F.lit(1)).alias("n_lang")
    )
    keeps = docs.select(
        "doc_id",
        (
            F.col("doc_id")
            == F.min("doc_id").over(
                Window.partitionBy(F.md5(F.col("text").cast("binary")))
            )
        ).alias("keep"),
    )
    b = (
        ranked.join(F.broadcast(lang_stats), "pred_lang")
        .join(keeps, "doc_id")
        .select(
            "pred_lang",
            (
                F.expr("CAST((3 * (grn - base)) DIV n_lang AS INT)")
                + F.lit(1)
            ).alias("bucket"),
            "ppl", "keep",
        )
    )
    return b.groupBy(
        "pred_lang",
        F.when(F.col("bucket") == 1, "head")
        .when(F.col("bucket") == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.round(
            F.sum(F.col("ppl").cast("decimal(38,14)")).cast("double")
            / F.count(F.lit(1)),
            8,
        ).alias("avg_ppl"),
    )




def _bpe_fit(docs, n_steps: int = 8):
    """Shared BPE trainer (q_bpe_train / q_bpe_encode): collapse the
    corpus to the word-TYPE table, run ``n_steps`` greedy merge rounds
    (pair-count shuffle + 1-row argmax collect + engine-portable
    space-delimited replace per round; each round's argmax collect
    materializes the current cached state, so the previous round's
    cache drops right after it — one action per round). Returns
    (merges, final_words, live_persist_handles): the merge trajectory,
    the final (term, cnt, word) state with every merge applied, and
    the still-persisted DataFrames the caller must unpersist."""
    words = (
        docs.select(F.explode(T.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "term",
            "cnt",
            F.concat(
                F.lit(" "),
                F.regexp_replace(F.col("term"), "(.)", "$1 "),
            ).alias("word"),
        )
        .persist()
    )
    merges: list[tuple[int, str, str, int]] = []
    cur, prev = words, None
    for step in range(1, n_steps + 1):
        syms = cur.select(
            "cnt", F.split(F.trim(F.col("word")), " ").alias("s")
        )
        pairs = (
            syms.filter(F.size("s") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(s) - 2),"
                        " i -> struct(s[i] AS a, s[i+1] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("c"))
        )
        best = pairs.orderBy(F.desc("c"), "a", "b").limit(1).collect()[0]
        merges.append((step, best["a"], best["b"], best["c"]))
        if prev is not None:
            prev.unpersist()
        nxt = cur.select(
            "term",
            "cnt",
            F.replace(
                F.col("word"),
                F.lit(f" {best['a']} {best['b']} "),
                F.lit(f" {best['a']}{best['b']} "),
            ).alias("word"),
        ).persist()
        cur, prev = nxt, cur
    return merges, cur, [df for df in (cur, prev) if df is not None]




def _bpe_train_oracle(n_steps: int = 8) -> str:
    """Unrolled n-step BPE-training oracle (the q_mmr_diversity
    unrolled-CTE precedent): level i counts weighted adjacent symbol
    pairs over the word-TYPE table, picks the argmax (count desc, then
    lexicographic pair), and applies the merge via space-delimited
    string replace — the same left-to-right non-overlapping scan Java's
    String.replace performs, so the merge application is
    engine-portable by construction."""
    ctes = [r"""
    base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
               ' ' || regexp_replace(term, '(.)', '\1 ', 'g') AS word
        FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                     AS term
            FROM documents
        )
        GROUP BY term
    ), w0 AS (SELECT cnt, word FROM base)"""]
    for i in range(n_steps):
        ctes.append(f"""
    p{i} AS (
        SELECT s[i] AS a, s[i+1] AS b, SUM(cnt) AS c
        FROM (SELECT cnt, regexp_split_to_array(trim(word), ' ') AS s
              FROM w{i}),
             UNNEST(generate_series(1, len(s)-1)) AS u(i)
        GROUP BY 1, 2
    ),
    b{i} AS (SELECT a, b, c FROM p{i} ORDER BY c DESC, a, b LIMIT 1),
    w{i + 1} AS (
        SELECT cnt,
               replace(word, ' ' || b{i}.a || ' ' || b{i}.b || ' ',
                       ' ' || b{i}.a || b{i}.b || ' ') AS word
        FROM w{i} CROSS JOIN b{i}
    )""")
    unions = "\n        UNION ALL ".join(
        f"SELECT {i + 1} AS step, a AS pair_a, b AS pair_b,"
        f" CAST(c AS BIGINT) AS freq FROM b{i}"
        for i in range(n_steps)
    )
    return (
        "WITH" + ",".join(ctes)
        + f"\n    SELECT * FROM ({unions}) ORDER BY step"
    )


@register("q_bpe_train", oracle=_bpe_train_oracle())
def q_bpe_train(spark, sf_dir):
    """Iterative BPE tokenizer TRAINING (Sennrich et al. 2016), 8 merge
    rounds end-to-end — the multi-step completion of q_bpe_merge_step:
    words become space-delimited symbol strings, each round counts
    frequency-weighted adjacent symbol pairs over the word-TYPE table,
    the argmax pair (count desc, lexicographic tie-break) merges
    everywhere via space-delimited string replace, and the output is
    the 8-row merge trajectory (step, pair, weighted count).

    Scale shape: the corpus collapses to the word-type table in ONE
    token groupBy (types ~ vocab-sized, not corpus-sized — at 100 TB
    the iteration input is millions of rows, not trillions); every
    round is a pair-count aggregate (keyed shuffle) plus a 1-row
    argmax collect (control-plane, the PQ-training bounded-actions
    precedent), and merge application is a codegen projection. Each
    round persists its word state and unpersists the previous so
    lineage stays O(1) deep. Merge application uses the same
    left-to-right non-overlapping replace scan in both engines, so
    the full 8-step trajectory hash-matches the unrolled oracle."""
    docs = _t(spark, sf_dir, "documents")
    merges, final_words, handles = _bpe_fit(docs)
    for df in handles:
        df.unpersist()
    return spark.createDataFrame(
        merges, "step int, pair_a string, pair_b string, freq long"
    )


@register(
    "q_preference_pairs",
    oracle=r"""
    WITH f AS (
        SELECT doc_id, source,
               least(1.0, n_tokens / 50.0)
                 * (1.0 - n_punct / n_tokens)
                 * (0.5 + 0.5 * (n_stopwords / n_tokens)) AS q
        FROM (
            SELECT doc_id, source,
                   CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                        AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(lower(text), '[.,;:!?]'))
                        AS BIGINT) AS n_punct,
                   CAST(len(regexp_extract_all(lower(text),
                        '\b(the|a|is|and|of|to|in|that|it|for)\b'))
                        AS BIGINT) AS n_stopwords
            FROM documents)
    ),
    c AS (
        SELECT source, doc_id AS chosen_doc, q AS cq,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY q DESC, doc_id) AS r
        FROM f
    ),
    rj AS (
        SELECT source, doc_id AS rejected_doc, q AS rq,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY q ASC, doc_id) AS r
        FROM f
    )
    SELECT c.source, chosen_doc, rejected_doc, cq - rq AS margin
    FROM c JOIN rj ON c.source = rj.source
    WHERE c.r = 1 AND rj.r = 1 AND chosen_doc <> rejected_doc
    """,
)
def q_preference_pairs(spark, sf_dir):
    """Preference-pair construction for DPO/RLHF-style training: per
    source group, pair the highest-quality document (chosen) with the
    lowest-quality one (rejected) under the deterministic heuristic
    quality score, with doc_id tie-breaks on both ends and degenerate
    single-doc groups dropped.

    Scale shape: per-group argmax/argmin run as min-of-struct
    AGGREGATES (one keyed shuffle), NOT per-source windows — source
    cardinality is low, so a partitioned window would funnel each
    source through one task at 100 TB while the aggregate gets
    map-side partial combine. The struct trick (min over (−score, id)
    / (score, id)) carries the tie-break inside the aggregate. The
    score is the q_text_quality int-ratio expression, identical in
    both engines, so the margin doubles hash-match."""
    docs = _t(spark, sf_dir, "documents")
    feats = T.quality_features(docs).select(
        "doc_id", "source", "quality_score"
    )
    agg = feats.groupBy("source").agg(
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
    return (
        agg.select(
            "source",
            F.col("ch.id").alias("chosen_doc"),
            F.col("rj.id").alias("rejected_doc"),
            ((-F.col("ch.ns")) - F.col("rj.s")).alias("margin"),
        )
        .where(F.col("chosen_doc") != F.col("rejected_doc"))
    )


def _recall_panel(emb):
    """The recall harnesses' fixed query panel — the 20 smallest
    md5(vec_id), persisted because every scoring path re-joins it (one
    md5 order-by corpus scan, not one per path) — and the corpus,
    spread across cores: each scoring pass runs panel×corpus
    interpreted dot folds in the corpus scan stage, single-threaded on
    a one-row-group testdata scan (no-op at real scale — see
    data.spread_small_scan)."""
    from big_data_projects_spark.data import spread_small_scan

    panel = (
        emb.select(F.col("vec_id").alias("__pid"))
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(20)
        .persist()
    )
    return panel, spread_small_scan(emb)


def _ranked_top(scored, sim_col):
    """Per qid, the 10 highest ``sim_col`` vec_ids (vec_id breaks ties)."""
    w = Window.partitionBy("qid").orderBy(F.desc(sim_col), F.col("vec_id"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 10)
        .select("qid", "vec_id")
    )


def _cosine_top(df, vec_col, panel):
    """Exact-cosine top-10 of ``df``'s ``vec_col`` per panel query;
    norms precompute once per row and the panel side broadcasts."""
    dn = df.withColumn("__nn", S._norm(F.col(vec_col)))
    pan = (
        dn.join(F.broadcast(panel), F.col("vec_id") == F.col("__pid"))
        .select(
            F.col("vec_id").alias("qid"),
            F.col(vec_col).alias("__qe"),
            F.col("__nn").alias("__qn"),
        )
    )
    scored = (
        dn.crossJoin(F.broadcast(pan))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            (
                S._dot(F.col(vec_col), F.col("__qe"))
                / (F.col("__nn") * F.col("__qn"))
            ).alias("sim"),
        )
    )
    return _ranked_top(scored, "sim")


def _recall_at_10(ex_top, approx_top):
    """Per qid, how many of the exact top-10 the approximate top-10
    also holds, and that count over 10."""
    return (
        ex_top.join(
            approx_top.withColumn("__hit", F.lit(1)), ["qid", "vec_id"], "left"
        )
        .groupBy("qid")
        .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_overlap"))
        .select(
            "qid", "n_overlap",
            (F.col("n_overlap") / F.lit(10.0)).alias("recall_at_10"),
        )
    )


@register(
    "q_ann_recall",
    oracle="""
    WITH qv AS (
        SELECT vec_id,
               greatest(list_max(list_transform(embedding::DOUBLE[],
                                                x -> abs(x))) / 127.0,
                        1e-300) AS s,
               list_transform(embedding::DOUBLE[],
                   x -> floor(x / greatest(list_max(list_transform(
                            embedding::DOUBLE[], y -> abs(y))) / 127.0,
                            1e-300) + 0.5)) AS q
        FROM embeddings
    ),
    raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    panel AS (SELECT vec_id AS qid FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 20),
    i8 AS (
        SELECT p.qid, a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
                   (list_dot_product(a.q, b.q) * a.s * b.s) /
                   (sqrt(list_dot_product(a.q, a.q)) * a.s *
                    sqrt(list_dot_product(b.q, b.q)) * b.s)
                   DESC, a.vec_id) AS r
        FROM qv a JOIN panel p ON a.vec_id <> p.qid
                  JOIN qv b ON b.vec_id = p.qid
    ),
    ex AS (
        SELECT p.qid, a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
                   list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(b.v, b.v)))
                   DESC, a.vec_id) AS r
        FROM raw a JOIN panel p ON a.vec_id <> p.qid
                   JOIN raw b ON b.vec_id = p.qid
    )
    SELECT e.qid,
           CAST(COUNT(i.vec_id) AS BIGINT) AS n_overlap,
           COUNT(i.vec_id) / 10.0 AS recall_at_10
    FROM ex e LEFT JOIN i8 i
      ON i.qid = e.qid AND i.vec_id = e.vec_id AND i.r <= 10
    WHERE e.r <= 10
    GROUP BY e.qid
    """,
)
def q_ann_recall(spark, sf_dir):
    """ANN index-quality evaluation: recall@10 of the int8-quantized
    similarity index against exact cosine, over a fixed 20-query panel
    (the 20 smallest md5(vec_id) — deterministic, engine-portable, and
    CONSTANT-SIZE regardless of corpus growth; the former
    `vec_id % 25` panel grew with the corpus, making panel x corpus
    scoring quadratic — caught SUPERLINEAR at 125x wall for 30x data
    by tools/scale_smoke.py in round 5) — the monitoring job that
    tells you when a quantized/approximate serving index has degraded
    enough to rebuild. Per-query overlap of the two top-10 sets; both
    ranks use bit-identical sims (the q_knn_cosine / q_knn_int8
    parity) with vec_id tie-breaks, so the recall fractions
    hash-match.

    Scale shape: the panel is a TakeOrdered top-20 (no global sort
    materialization) and broadcasts; both scoring passes are one
    corpus scan each (BNL against the 20-row panel — the
    q_hard_negatives exact-path precedent); the rank windows partition
    by query id over the evaluation candidate set — at 100 TB the
    eval runs over a corpus SAMPLE (recall estimates need only a
    bounded candidate pool), keeping each window partition
    sample-sized."""
    panel, emb = _recall_panel(_t(spark, sf_dir, "embeddings"))

    # int8 path (same expression shape as S.quantized_topk_cosine).
    # Per-side norms precompute ONCE per row (same float expression →
    # bit-identical values, ~3x less arithmetic than per-pair norms —
    # the topk_cosine precompute precedent).
    qemb_n = S.quantize_int8(emb).withColumn(
        "__nn", F.sqrt(S._idot(F.col("q_vec"), F.col("q_vec")).cast("double"))
    )
    qpanel_n = (
        qemb_n.join(
            F.broadcast(panel), F.col("vec_id") == F.col("__pid")
        )
        .select(
            F.col("vec_id").alias("qid"),
            F.col("q_vec").alias("__qv"),
            F.col("q_scale").alias("__qs"),
            F.col("__nn").alias("__qn"),
        )
    )
    i8_scored = (
        qemb_n.crossJoin(F.broadcast(qpanel_n))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id",
            (
                (S._idot(F.col("q_vec"), F.col("__qv")).cast("double")
                 * F.col("q_scale") * F.col("__qs"))
                / (
                    F.col("__nn") * F.col("q_scale")
                    * F.col("__qn") * F.col("__qs")
                )
            ).alias("sim_q"),
        )
    )
    i8_top = _ranked_top(i8_scored, "sim_q")
    return _recall_at_10(_cosine_top(emb, "embedding", panel), i8_top)


@register(
    "q_multimodal_dhash",
    oracle="""
    WITH hx AS (
        SELECT doc_id,
               substr(hex(encode(text)) || repeat('00', 72), 1, 144) AS h
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_transform(generate_series(1, 72),
                   i -> CAST(('0x' || substr(h, (i-1)*2+1, 2)) AS INT))
                 AS g
        FROM hx
    ),
    p AS (
        SELECT doc_id,
               array_to_string(list_transform(generate_series(0, 63),
                   k -> CASE WHEN g[(k//8)*9 + (k%8) + 1] <
                              g[(k//8)*9 + (k%8) + 2]
                        THEN '1' ELSE '0' END), '') AS phash
        FROM g
    )
    SELECT a.doc_id, a.phash, CAST(c.n AS BIGINT) AS n_bucket
    FROM p a JOIN (SELECT phash, COUNT(*) AS n FROM p GROUP BY 1) c
      USING (phash)
    """,
)
def q_multimodal_dhash(spark, sf_dir):
    """Perceptual difference-hash (dHash) signatures over binary
    payloads — the NEAR-dup signature for the multimodal column family
    (md5 is the exact one): 64 bits of adjacent-byte comparison over a
    9x8 raster view, bucketed for duplicate detection. The registry
    path runs the byte-level JVM expression (zero Python, hash-matched
    against the oracle's identical reconstruction); the REAL image
    path — P6 decode → nearest resize to 9x8 → integer grayscale →
    the same comparison math — is dhash_raster, pinned by unit test
    (noise ⇒ low hamming distance, different image ⇒ high), the same
    real-path/registry-path split as q_multimodal_resize. Plan: one
    codegen projection + one phash-keyed count shuffle; at 100 TB
    near-dup candidates come from hamming-ball banding over the same
    signature (the q_simhash_pairs pigeonhole machinery applies
    unchanged)."""
    from big_data_projects_spark.data import spread_small_scan

    docs = _t(spark, sf_dir, "documents")
    # The 9x8-raster dHash is a heavy byte-level expression per row,
    # all in the scan stage — single-threaded on a one-row-group
    # testdata scan; spread the raw rows across cores first (no-op at
    # real scale — see spread_small_scan; r12 optimization).
    binary = M.with_binary_payload(
        spread_small_scan(docs.select("doc_id", "text"))
    )
    hashed = (
        M.with_dhash64(binary)
        .select("doc_id", "phash")
        .persist()  # consumed by the bucket count AND the join-back
    )
    counts = hashed.groupBy("phash").agg(
        F.count(F.lit(1)).alias("n_bucket")
    )
    return hashed.join(counts, "phash").select(
        "doc_id", "phash", "n_bucket"
    )


@register(
    "q_dataset_report",
    oracle=r"""
    WITH f AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                    AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(lower(text), '[.,;:!?]'))
                    AS BIGINT) AS n_punct,
               CAST(len(regexp_extract_all(lower(text),
                    '\b(the|a|is|and|of|to|in|that|it|for)\b'))
                    AS BIGINT) AS n_stopwords,
               md5(text) AS fp
        FROM documents
    ),
    q AS (
        SELECT doc_id, source, n_tokens, fp,
               least(1.0, n_tokens / 50.0)
                 * (1.0 - n_punct / n_tokens)
                 * (0.5 + 0.5 * (n_stopwords / n_tokens)) AS quality
        FROM f
    ),
    dups AS (
        SELECT doc_id,
               (COUNT(*) OVER (PARTITION BY fp) > 1) AS is_dup
        FROM f
    ),
    langs AS (
        SELECT doc_id,
            CASE WHEN en=0 AND de=0 AND fr=0 AND es=0 AND zh=0
                      THEN 'unknown'
                 WHEN en>=de AND en>=fr AND en>=es AND en>=zh THEN 'en'
                 WHEN de>=fr AND de>=es AND de>=zh THEN 'de'
                 WHEN fr>=es AND fr>=zh THEN 'fr'
                 WHEN es>=zh THEN 'es'
                 ELSE 'zh' END AS pred_lang
        FROM (
            SELECT doc_id,
                len(regexp_extract_all(lower(text), '\b(the|a|is|and|of)\b')) AS en,
                len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS de,
                len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS fr,
                len(regexp_extract_all(lower(text), '\b(el|los|las|y|es)\b')) AS es,
                len(regexp_extract_all(lower(text), '[\x{4e00}-\x{9fff}]')) AS zh
            FROM documents)
    ),
    lang_mode AS (
        SELECT source, pred_lang AS top_lang
        FROM (
            SELECT q.source, l.pred_lang,
                   ROW_NUMBER() OVER (PARTITION BY q.source
                       ORDER BY COUNT(*) DESC, l.pred_lang) AS r
            FROM q JOIN langs l USING (doc_id)
            GROUP BY q.source, l.pred_lang
        ) WHERE r = 1
    )
    SELECT q.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN d.is_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dups,
           round(CAST(SUM(CAST(quality AS DECIMAL(38,14))) AS DOUBLE)
                 / COUNT(*), 8) AS mean_quality,
           ANY_VALUE(m.top_lang) AS top_lang
    FROM q JOIN dups d USING (doc_id) JOIN lang_mode m USING (source)
    GROUP BY q.source
    """,
)
def q_dataset_report(spark, sf_dir):
    """Dataset-card report — the per-source accounting table every
    corpus release ships with, composed from this repo's operators in
    one pass: doc and token counts, exact-duplicate membership (global
    md5 groups counted per source), mean heuristic quality
    (decimal-summed, round-8), and the dominant language (count-mode
    with lexicographic tie-break).

    Scale shape: everything is keyed aggregation — the dup flag is a
    window over the high-cardinality fingerprint, language mode is a
    (source, lang) count then a min-of-struct argmax per source
    (low-cardinality groups stay AGGREGATES, never windows — the
    q_preference_pairs rule), and the final rollup is one source-keyed
    shuffle with map-side combine."""
    docs = _t(spark, sf_dir, "documents")
    feats = T.quality_features(docs).select(
        "doc_id", "source", "n_tokens", "quality_score",
        F.md5(F.col("text").cast("binary")).alias("fp"),
    )
    dup = feats.select(
        "doc_id",
        (
            F.count(F.lit(1)).over(Window.partitionBy("fp")) > 1
        ).alias("is_dup"),
    )
    langs = docs.select(
        "doc_id", T.predict_lang("text").alias("pred_lang")
    )
    lang_mode = (
        feats.join(langs, "doc_id")
        .groupBy("source", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("source")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n")).alias("neg_n"),
                    F.col("pred_lang").alias("lang"),
                )
            ).alias("m")
        )
        .select("source", F.col("m.lang").alias("top_lang"))
    )
    return (
        feats.join(dup, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(F.col("is_dup").cast("long")).alias("n_exact_dups"),
            F.round(
                F.sum(F.col("quality_score").cast("decimal(38,14)"))
                .cast("double")
                / F.count(F.lit(1)),
                8,
            ).alias("mean_quality"),
        )
        .join(F.broadcast(lang_mode), "source")
        .select(
            "source", "n_docs", "n_tokens", "n_exact_dups",
            "mean_quality", "top_lang",
        )
    )


def _bpe_term_cte_prefix(n_steps: int = 8) -> str:
    """Shared unrolled BPE CTE chain CARRYING THE TERM KEY (the
    _bpe_train_oracle chain drops it): ``WITH base, w0, p0, b0, w1,
    ..., w{n_steps}`` — w{n_steps} holds each word type's final
    space-delimited symbol string.  Tail-composed by
    _bpe_encode_oracle and _bpe_roundtrip_oracle."""
    ctes = [r"""
    base AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt,
               ' ' || regexp_replace(term, '(.)', '\1 ', 'g') AS word
        FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                     AS term
            FROM documents
        )
        GROUP BY term
    ), w0 AS (SELECT term, cnt, word FROM base)"""]
    for i in range(n_steps):
        ctes.append(f"""
    p{i} AS (
        SELECT s[i] AS a, s[i+1] AS b, SUM(cnt) AS c
        FROM (SELECT cnt, regexp_split_to_array(trim(word), ' ') AS s
              FROM w{i}),
             UNNEST(generate_series(1, len(s)-1)) AS u(i)
        GROUP BY 1, 2
    ),
    b{i} AS (SELECT a, b, c FROM p{i} ORDER BY c DESC, a, b LIMIT 1),
    w{i + 1} AS (
        SELECT term, cnt,
               replace(word, ' ' || b{i}.a || ' ' || b{i}.b || ' ',
                       ' ' || b{i}.a || b{i}.b || ' ') AS word
        FROM w{i} CROSS JOIN b{i}
    )""")
    return "WITH" + ",".join(ctes)


def _bpe_encode_oracle(n_steps: int = 8) -> str:
    """Unrolled train-then-encode oracle: the same n-step merge CTE
    chain as _bpe_train_oracle but carrying the term key, then the
    final word states give per-term symbol counts joined back onto
    every document's token stream."""
    return (
        _bpe_term_cte_prefix(n_steps) + f""",
    enc AS (
        SELECT term,
               len(regexp_split_to_array(trim(word), ' ')) AS n_sym
        FROM w{n_steps}
    ),
    toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                 AS term
        FROM documents
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(e.n_sym) AS BIGINT) AS n_bpe_tokens
    FROM toks t JOIN enc e USING (term)
    GROUP BY t.doc_id"""
    )


@register("q_bpe_encode", oracle=_bpe_encode_oracle())
def q_bpe_encode(spark, sf_dir):
    """BPE tokenizer ENCODING with the trained merges — the serving
    half of the tokenizer lifecycle (q_bpe_train fits; this applies):
    after the 8 greedy merge rounds, each word type's final symbol
    count is joined back onto every document's token stream, yielding
    per-doc whitespace-word and BPE-token counts (the sequence-length
    signal packing and batching key on).

    Scale shape: encoding never touches documents during training —
    the merge application happened once on the vocab-sized TYPE table
    inside _bpe_fit, so serving is ONE term-keyed equi-join (AQE
    broadcasts the type table when it fits) plus a doc_id aggregate.
    The whole train-then-encode trajectory hash-matches the unrolled
    oracle."""
    docs = _t(spark, sf_dir, "documents")
    merges, final_words, handles = _bpe_fit(docs)
    for df in handles:
        if df is not final_words:
            df.unpersist()
    enc = final_words.select(
        "term",
        F.size(F.split(F.trim(F.col("word")), " ")).alias("n_sym"),
    )
    toks = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("term")
    )
    return toks.join(enc, "term").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
    )


def _bpe_roundtrip_oracle(n_steps: int = 8) -> str:
    """Unrolled train→encode→DECODE oracle: the shared term-keyed merge
    chain, then decode = concatenating each word type's final symbols
    (stripping the delimiter spaces) compared against the original
    term, aggregated per source."""
    return (
        _bpe_term_cte_prefix(n_steps) + rf""",
    enc AS (
        SELECT term,
               len(regexp_split_to_array(trim(word), ' ')) AS n_sym,
               replace(trim(word), ' ', '') AS decoded
        FROM w{n_steps}
    ),
    toks AS (
        SELECT source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS term
        FROM documents
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_word_tokens,
           CAST(SUM(CASE WHEN e.decoded = t.term THEN 1 ELSE 0 END)
                AS BIGINT) AS n_roundtrip_ok,
           CAST(SUM(CASE WHEN e.n_sym < length(t.term) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_merged_tokens,
           round(SUM(e.n_sym) / CAST(COUNT(*) AS DOUBLE), 8)
             AS avg_syms_per_token
    FROM toks t JOIN enc e USING (term)
    GROUP BY t.source"""
    )


@register("q_tokenizer_roundtrip", oracle=_bpe_roundtrip_oracle())
def q_tokenizer_roundtrip(spark, sf_dir):
    """Tokenizer ROUND-TRIP audit — the encode→decode identity check a
    training pipeline runs before trusting a tokenizer with its corpus
    (a lossy tokenizer silently corrupts every downstream token count
    and the training text itself).  After the 8 trained BPE merges,
    each word type's symbol sequence is DECODED by concatenation and
    compared to the original term; the audit reports, per source:
    token-weighted round-trip exactness (must equal n_word_tokens —
    a miss means merge application corrupted a symbol), merge
    coverage (tokens whose type absorbed ≥1 merge), and mean symbols
    per token (the compression the 8 merges actually bought on this
    corpus).

    Scale shape: training cost is the q_bpe_train corpus-collapse
    (one token groupBy to the vocab-sized TYPE table; 8 bounded merge
    rounds); decode + the identity compare run on the TYPE table
    (vocab-sized, not corpus-sized); serving is ONE term-keyed
    equi-join of the token stream against the type table (AQE
    broadcasts it when it fits) and a source-keyed aggregate.  The
    whole train→encode→decode trajectory hash-matches the unrolled
    oracle."""
    docs = _t(spark, sf_dir, "documents")
    merges, final_words, handles = _bpe_fit(docs)
    for df in handles:
        if df is not final_words:
            df.unpersist()
    enc = final_words.select(
        "term",
        F.size(F.split(F.trim(F.col("word")), " ")).alias("n_sym"),
        F.replace(F.trim(F.col("word")), F.lit(" "), F.lit("")).alias(
            "decoded"
        ),
    )
    toks = docs.select(
        "source", F.explode(T.tokens("text")).alias("term")
    )
    return toks.join(enc, "term").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_word_tokens"),
        F.sum((F.col("decoded") == F.col("term")).cast("long")).alias(
            "n_roundtrip_ok"
        ),
        F.sum((F.col("n_sym") < F.length("term")).cast("long")).alias(
            "n_merged_tokens"
        ),
        F.round(
            F.sum("n_sym").cast("double") / F.count(F.lit(1)), 8
        ).alias("avg_syms_per_token"),
    )


@register(
    "q_matryoshka_recall",
    oracle="""
    WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cut AS (SELECT vec_id, list_slice(embedding::DOUBLE[], 1, 16) AS v
            FROM embeddings),
    panel AS (SELECT vec_id AS qid FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 20),
    trunc AS (
        SELECT p.qid, a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
                   list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(b.v, b.v)))
                   DESC, a.vec_id) AS r
        FROM cut a JOIN panel p ON a.vec_id <> p.qid
                   JOIN cut b ON b.vec_id = p.qid
    ),
    ex AS (
        SELECT p.qid, a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
                   list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(b.v, b.v)))
                   DESC, a.vec_id) AS r
        FROM raw a JOIN panel p ON a.vec_id <> p.qid
                   JOIN raw b ON b.vec_id = p.qid
    )
    SELECT e.qid,
           CAST(COUNT(t.vec_id) AS BIGINT) AS n_overlap,
           COUNT(t.vec_id) / 10.0 AS recall_at_10
    FROM ex e LEFT JOIN trunc t
      ON t.qid = e.qid AND t.vec_id = e.vec_id AND t.r <= 10
    WHERE e.r <= 10
    GROUP BY e.qid
    """,
)
def q_matryoshka_recall(spark, sf_dir):
    """Matryoshka-truncation evaluation (Kusupati et al. 2022): recall
    @10 of cosine search over the FIRST 16 of 64 embedding dimensions
    vs the full vectors — the dimensionality-vs-recall trade every
    MRL-style serving stack measures before shipping a truncated
    index (4x memory/bandwidth saved; this query reports what it
    costs on YOUR corpus). Same harness shape as q_ann_recall: fixed
    broadcast 20-query panel (20 smallest md5(vec_id) — constant-size
    under corpus growth; the former corpus-proportional `% 25` panel
    was caught SUPERLINEAR by the round-5 scale smoke), one corpus
    scan per path, qid-partitioned ranks over the evaluation
    candidate pool, bit-exact sims with id tie-breaks — the per-query
    recall fractions hash-match. (The synthetic test embeddings are
    NOT importance-ordered, so measured recall is the pessimistic
    untrained-truncation floor; a trained MRL model reorders mass
    into the prefix and this same query measures the gain.)"""
    panel, emb = _recall_panel(_t(spark, sf_dir, "embeddings"))
    cut = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, 16).alias("emb16")
    )
    return _recall_at_10(
        _cosine_top(emb, "embedding", panel), _cosine_top(cut, "emb16", panel)
    )


@register(
    "q_negative_sampling",
    oracle=r"""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS term
        FROM documents
    ),
    cf AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM toks
        WHERE term <> '' GROUP BY term
    ),
    w AS (SELECT term, c, round(pow(c, 0.75), 8) AS w FROM cf),
    tot AS (
        SELECT CAST(SUM(CAST(w AS DECIMAL(38,14))) AS DOUBLE) AS z FROM w
    )
    SELECT term, c, w, round(w / z, 12) AS p_neg
    FROM w CROSS JOIN tot
    """,
)
def q_negative_sampling(spark, sf_dir):
    """word2vec negative-sampling distribution (Mikolov et al. 2013):
    the unigram-count^0.75 table that q_skipgram_pairs' training pairs
    draw negatives from — the 3/4 power damps head tokens and lifts
    the tail, the empirically standard negative-sampling unigram
    smoothing. One token groupBy builds the exact count table; the
    damped weight rounds to 8 (absorbing libm pow ulp differences),
    the normalizer is a decimal sum (shuffle-order-independent), and
    each probability rounds to 12 — so the whole distribution
    hash-matches. At 100 TB the output is the vocab-sized table a
    trainer broadcasts (or alias-samples from) — construction is one
    shuffle and a 1-row broadcast."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(T.tokens("text")).alias("term"))
    cf = (
        toks.where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = cf.select(
        "term", "c", F.round(F.pow(F.col("c"), F.lit(0.75)), 8).alias("w")
    )
    tot = w.agg(
        F.sum(F.col("w").cast("decimal(38,14)")).cast("double").alias("z")
    )
    return w.join(F.broadcast(tot)).select(
        "term", "c", "w",
        F.round(F.col("w") / F.col("z"), 12).alias("p_neg"),
    )


@register(
    "q_cluster_purity",
    oracle="""
    WITH l AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label)
    SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_vectors,
           CAST((SELECT COUNT(*) FROM l) AS BIGINT) AS n_labels,
           round((SELECT MAX(n) FROM l) * 1.0 /
                 (SELECT COUNT(*) FROM embeddings), 8) AS majority_share,
           TRUE AS partition_complete,
           TRUE AS beats_majority
    """,
)
def q_cluster_purity(spark, sf_dir):
    """Clustering-quality evaluation: purity of the k-means coarse
    quantizer against the ground-truth labels — the third member of
    the evaluation family (q_ann_recall, q_matryoshka_recall):
    purity = Σ_c max_label_count(c) / n, the fraction of vectors whose
    cluster's dominant label matches theirs. The clustering is
    iterative so purity itself is not SQL-computable; the output is
    the invariant summary (q_kmeans_clusters pattern): the exact
    corpus count, label count, and majority-class share the oracle
    computes independently, plus hash-checked booleans pinning that
    every vector got exactly one cluster and that purity strictly
    exceeds the majority-class baseline — i.e. the quantizer carries
    real label information vs the trivial one-cluster assignment
    (0.164 vs 0.118 on this corpus, deterministic). All aggregates;
    the purity numerator is one (cluster, label) count plus a per-
    cluster max. The (vec_id, label, cluster) relation is persisted
    before the aggregate fan-out: the assignment's lazy Lloyd-iteration
    lineage would otherwise be replayed once per consuming branch
    (pure + stats), and only the two narrow columns ride the join —
    never the embedding array."""
    emb = _t(spark, sf_dir, "embeddings")
    asg = S.kmeans_assign(emb, k=8, n_iter=2)
    j = (
        emb.select("vec_id", "label")
        .join(asg, "vec_id")
        .persist()  # consumed by per-(cluster,label) counts AND stats
    )
    per = j.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    pure = per.groupBy("cluster").agg(F.max("n").alias("m")).agg(
        F.sum("m").alias("pure_n")
    )
    lab = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    lab_stats = lab.agg(
        F.count(F.lit(1)).alias("n_labels"), F.max("n").alias("maj_n")
    )
    stats = j.agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.countDistinct("vec_id").alias("n_ids"),
    )
    total = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        total.crossJoin(stats).crossJoin(pure).crossJoin(lab_stats)
        .select(
            "n_vectors",
            "n_labels",
            F.round(
                F.col("maj_n") * F.lit(1.0) / F.col("n_vectors"), 8
            ).alias("majority_share"),
            (
                (F.col("n_assigned") == F.col("n_vectors"))
                & (F.col("n_ids") == F.col("n_vectors"))
            ).alias("partition_complete"),
            (
                F.col("pure_n") * F.lit(1.0) / F.col("n_vectors")
                > F.col("maj_n") * F.lit(1.0) / F.col("n_vectors")
            ).alias("beats_majority"),
        )
    )
