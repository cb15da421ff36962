"""Text-analysis operators over a document corpus (documents.text).

All hot-path logic is built-in pyspark.sql.functions (JVM, codegen):
tokenization via regex split, language-ID via marker-word regexp
counts, quality scoring from integer counts (int arithmetic → identical
doubles on any engine), fingerprinting via md5 (hex-identical across
Spark and DuckDB, which the oracle twins rely on).

Beyond-reference capability (SURVEY.md §7 phase 3 / BASELINE.json
north star). No reference citation — the reference has no text ops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Marker words per language, checked in this preference order (first
# max wins ties). The oracle SQL mirrors the exact same order.
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|a|is|and|of)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "fr": r"\b(le|la|les|et|est)\b",
    "es": r"\b(el|los|las|y|es)\b",
}
# CJK codepoint presence; Java regex syntax (oracle uses RE2's \x{...}).
CJK_PATTERN_JAVA = "[一-鿿]"

EN_STOPWORDS_PATTERN = r"\b(the|a|is|and|of|to|in|that|it|for)\b"
PUNCT_PATTERN = r"[.,;:!?]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of lower-cased, trimmed text.

    Matches DuckDB ``regexp_split_to_array(trim(lower(x)), '\\s+')``
    exactly, including the empty-string → [''] edge.
    """
    return F.split(F.trim(F.lower(col)), r"\s+")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = tokens(text_col)
    return df.withColumn("n_tokens", F.size(t).cast("long")).withColumn(
        "n_distinct_tokens", F.size(F.array_distinct(t)).cast("long")
    )


def lang_scores(text_col: Column | str = "text") -> dict[str, Column]:
    """Per-language marker-hit counts (bigint) over lowercased text.

    Accepts a column name or an arbitrary Column expression — the
    latter lets the same marker arithmetic run per-window inside a
    higher-order ``transform`` lambda (q_code_switch_audit)."""
    low = F.lower(text_col)
    scores = {
        lang: F.regexp_count(low, F.lit(pat)).cast("long")
        for lang, pat in LANG_MARKERS.items()
    }
    scores["zh"] = F.regexp_count(low, F.lit(CJK_PATTERN_JAVA)).cast("long")
    return scores


def predict_lang(text_col: Column | str = "text") -> Column:
    """Argmax language with deterministic preference-order tie-break;
    'unknown' when no marker hits at all."""
    s = lang_scores(text_col)
    order = ["en", "de", "fr", "es", "zh"]
    all_zero = None
    for lang in order:
        z = s[lang] == 0
        all_zero = z if all_zero is None else (all_zero & z)
    expr = F.when(all_zero, F.lit("unknown"))
    for i, lang in enumerate(order):
        cond = None
        for other in order[i + 1 :]:
            c = s[lang] >= s[other]
            cond = c if cond is None else (cond & c)
        expr = expr.when(cond if cond is not None else F.lit(True), F.lit(lang))
    return expr


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Integer-count features + a deterministic [0,1] quality score.

    Score: length prior (saturating at 50 tokens) × (1 − punct ratio)
    × (0.5 + 0.5 × stopword-hit ratio). All ratios are int/int
    divisions → bit-identical doubles on Spark and DuckDB.
    """
    low = F.lower(text_col)
    t = tokens(text_col)
    out = (
        df.withColumn("n_chars_obs", F.length(text_col).cast("long"))
        .withColumn("n_tokens", F.size(t).cast("long"))
        .withColumn("n_punct", F.regexp_count(low, F.lit(PUNCT_PATTERN)).cast("long"))
        .withColumn(
            "n_stopwords",
            F.regexp_count(low, F.lit(EN_STOPWORDS_PATTERN)).cast("long"),
        )
    )
    return out.withColumn(
        "quality_score",
        F.least(F.lit(1.0), F.col("n_tokens") / F.lit(50.0))
        * (F.lit(1.0) - F.col("n_punct") / F.col("n_tokens"))
        * (F.lit(0.5) + F.lit(0.5) * (F.col("n_stopwords") / F.col("n_tokens"))),
    )


# Gopher heuristic quality rules (Rae et al. 2021, arXiv:2112.11446
# Table A1, bounds adapted to this corpus' short synthetic docs): 25–500
# words, mean word length 3–10, at least 2 distinct stopwords present.
GOPHER_STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "on", "that", "it"]
GOPHER_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)


def gopher(t: str) -> dict[str, str]:
    """The Gopher gate over a token-array column, as SQL text.

    ``t`` is the SQL of the token array (a column name or an
    expression). Returns the SQL of ``n_words`` (bigint),
    ``mean_word_len`` (double), ``n_stopwords`` (distinct stopwords
    present, bigint) and ``keep`` (the gate), in that order. Word
    lengths sum exactly in int64 and divide once, so the mean is the
    same double on any engine. Per-row arithmetic over the array: no
    explode, no shuffle, all in codegen."""
    n_words = f"CAST(size({t}) AS BIGINT)"
    mean = f"aggregate({t}, 0L, (acc, w) -> acc + length(w)) / size({t})"
    n_stop = (
        f"CAST(size(array_intersect({t}, array({GOPHER_STOPWORDS_SQL})))"
        " AS BIGINT)"
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean,
        "n_stopwords": n_stop,
        "keep": f"({n_words} BETWEEN 25 AND 500 AND {mean} BETWEEN 3 AND 10"
        f" AND {n_stop} >= 2)",
    }


def fingerprint(col: Column | str) -> Column:
    """Full-text md5 hex fingerprint (engine-portable)."""
    return F.md5(col)


def fingerprint32(col: Column | str) -> Column:
    """First 32 bits of the md5 as a bigint — compact dedup key."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def fingerprint32_sql(e: str) -> str:
    """fingerprint32 of the SQL expression ``e``, as SQL text (for
    use inside a SQL lambda)."""
    return f"CAST(conv(substring(md5({e}), 1, 8), 16, 10) AS BIGINT)"


# GPT-2-style pre-tokenizer over lowercased text: contraction suffixes,
# space-prefixed letter runs, space-prefixed digit runs, space-prefixed
# punctuation runs, residual whitespace. Restricted to constructs with
# identical semantics in Java regex (Spark) and RE2 (DuckDB): no
# backreferences, no lookaround, ASCII \s.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+|\s+"

# Polynomial rolling-hash parameters (Rabin–Karp): BASE·acc + h(tok)
# mod MOD. MOD < 2^31 and h(tok) < 2^28 keep every intermediate under
# 2^39 — exact int64 arithmetic on both engines, no overflow under
# ANSI mode.
ROLL_BASE = 131
ROLL_MOD = (1 << 31) - 1


def bpe_token_count(col: Column | str) -> Column:
    """Number of BPE-style pre-tokens (bigint)."""
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(BPE_PATTERN), F.lit(0))).cast(
        "long"
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every k-token gram with a
    polynomial rolling hash, then keep the minimum hash of each window
    of w consecutive gram hashes; the distinct selected minima are the
    document's fingerprints. Guarantees every shared substring of
    length ≥ k+w−1 tokens contributes a shared fingerprint, with
    density ~2/(w+1) — the standard sublinear fingerprinting scheme
    for plagiarism / near-dup detection.

    The gram hash is the Rabin–Karp polynomial fold (BASE=131,
    MOD=2^31−1) over 28-bit md5 token hashes — written as a per-gram
    fold (identical value to the O(1) rolling update; SQL has no
    carried state between rows, and k is a small constant). Engine-
    portable: the DuckDB twin reproduces it with list_reduce.

    Execution shape: one explode (grams) + one windowed min partitioned
    by doc + one distinct — all shuffle keys are doc ids. Docs with
    fewer than k+w−1 tokens emit no fingerprints (no full window).
    Returns distinct (id, fp) rows.
    """
    from pyspark.sql import Window

    toks = tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("__toks")).filter(
        F.size("__toks") >= k
    )
    slots = ", ".join(f"__toks[i + {j}]" for j in range(k))
    # Per-position gram hash: fold the k token hashes at offset i.
    gram = F.expr(
        f"transform(sequence(0, size(__toks) - {k}), i -> "
        f"aggregate(array({slots}), cast(0 as bigint), "
        f"(acc, t) -> (acc * {ROLL_BASE} + "
        f"cast(conv(substring(md5(t), 1, 7), 16, 10) as bigint)) % {ROLL_MOD}))"
    )
    grams = base.select(
        F.col(id_col), F.posexplode(gram).alias("pos", "h")
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    n_grams = Window.partitionBy(id_col)
    return (
        grams.withColumn("__wmin", F.min("h").over(win))
        .withColumn("__n", F.count(F.lit(1)).over(n_grams))
        .filter(F.col("pos") <= F.col("__n") - w)  # full windows only
        .select(F.col(id_col), F.col("__wmin").alias("fp"))
        .distinct()
    )


# Hashed-feature linear quality scorer ("fasttext-style" shape): token →
# hash bucket → fixed per-bucket weight → summed score. The weights here
# are a deterministic stand-in derived from the bucket id (a trained
# model would broadcast a real weight table keyed by bucket — same plan
# shape, same cost); everything below is exact int64 arithmetic, so the
# scores hash-match any engine.
QC_BUCKETS = 512
_QC_MULT = 2654435761  # Knuth multiplicative-hash constant
_QC_MOD = 1000003
_QC_CENTER = 500001  # ≈ _QC_MOD/2: centers weights on zero


def hashed_linear_score(col: Column | str) -> Column:
    """Summed hashed-bag-of-words score of a text column, as int64.

    Zero-shuffle: a Catalyst ``aggregate`` fold over the token array —
    no explode, no groupBy; the score is computed inside the scan's
    codegen stage. bucket = md5-24bit % QC_BUCKETS, weight =
    (bucket * MULT) % MOD - CENTER, score = Σ weight over tokens.
    """

    def tok_weight(t: Column) -> Column:
        bucket = F.conv(F.substring(F.md5(t), 1, 6), 16, 10).cast("long") % QC_BUCKETS
        return (bucket * F.lit(_QC_MULT)) % F.lit(_QC_MOD) - F.lit(_QC_CENTER)

    return F.aggregate(
        tokens(col), F.lit(0).cast("long"), lambda acc, t: acc + tok_weight(t)
    )
