"""Text-analysis operators (north-star extension): language ID, quality
scoring, token counting, document fingerprinting. All native column
expressions over the ``documents`` table shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Public per-language function-word profiles (tiny, order matters only
# for tie-breaking: first profile wins ties).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "que"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}

ROLLING_BASE = 31
ROLLING_MOD = 2147483647  # 2^31 - 1: keeps the fold in exact int64


def _tokens(text: Column) -> Column:
    return F.split(text, " ")


def lang_scores(text: Column) -> dict[str, Column]:
    toks = _tokens(F.lower(text))
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words)))
        for lang, words in LANG_PROFILES.items()
    }


def language_id(text: Column) -> Column:
    """Stopword-profile argmax heuristic; 'und' (undetermined) when no
    profile scores a hit."""
    scores = lang_scores(text)
    pairs = F.array(
        *[
            F.struct(score.alias("score"), F.lit(lang).alias("lang"))
            for lang, score in scores.items()
        ]
    )
    best = F.array_max(pairs)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 32, stride: int = 24
) -> DataFrame:
    """LLM-prep chunking: split each document into fixed-size token
    windows with overlap (stride < chunk_tokens), one output row per
    chunk — the standard training-data windowing step. Pure higher-order
    expressions (sequence -> slice -> array_join), so the row explosion
    stays JVM-side and embarrassingly parallel; no UDF.

    Chunk starts run 0, stride, 2*stride, … up to the last start that
    still begins inside the document; the final chunk may be short.
    Returns (doc_id, chunk_idx, n_chunk_tokens, chunk_text).

    Known cost bound (audited r7, the winnow Generate-inlining lesson —
    operators/dedup.py:winnow_selected_materialized): Catalyst inlines
    ``toks`` into the per-chunk lambda under the Generate, so each
    row's text is re-split once per chunk — O(n_chunks · n_tokens)
    char work per doc. Benign for chunking-scale inputs (docs are
    length-trimmed upstream; <= ~10k tokens keeps the re-split cost
    below the chunk materialization itself, measured 0.6 s at sf0.1),
    and the alternative shapes are worse at the margin this operator
    serves: carrying the token array through the Generate copies it
    into every chunk row (the same quadratic in bytes), a
    memo-checkpoint adds a materialization to a single-consumer
    pipeline. For book-length corpora, checkpoint a (doc_id, toks)
    table first and chunk from that."""
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    n_chunks = F.when(n_tok <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n_tok - chunk_tokens) / F.lit(stride)) + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * stride + 1, chunk_tokens),
    )
    return docs.select(
        F.col("doc_id").cast("long"),
        F.posexplode(chunks).alias("chunk_idx", "chunk_toks"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long"),
        F.size("chunk_toks").cast("long").alias("n_chunk_tokens"),
        F.array_join("chunk_toks", " ").alias("chunk_text"),
    )


def quality_stats(docs: DataFrame) -> DataFrame:
    """Length / distinct-ratio / stopword-ratio quality signals. Each
    ratio is a single exact-int division (cross-engine deterministic).

    ONE row-local projection, deliberately: the r7 doc_stats merge
    first joined a separate stopword projection back on doc_id, which
    planned as TWO FileScans + a join — at 100 TB that is two full
    corpus scans and (past the broadcast threshold, which an N-row
    side always is) a shuffle, for an operator whose semantics are
    per-row. All eight columns now come off a single scan."""
    from ..functions.text import STOPWORDS

    toks = _tokens(F.col("text"))
    n_tok = F.size(toks).cast("long")
    n_chars = F.length("text").cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    mean_tok_len = (n_chars - (n_tok - 1)).cast("double") / n_tok.cast("double")
    return docs.select(
        F.col("doc_id").cast("long"),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        (n_distinct.cast("double") / n_tok.cast("double")).alias("distinct_ratio"),
        mean_tok_len.alias("mean_token_len"),
        n_stop.alias("n_stop"),
        (n_stop.cast("double") / n_tok.cast("double")).alias("stop_ratio"),
    )


def rolling_fingerprint(text: Column) -> Column:
    """Order-sensitive polynomial rolling hash over tokens:
    fold(acc * 31 + token_hash) mod (2^31-1), token_hash from the first
    8 md5 hex chars — exact int64 arithmetic in any engine."""
    toks = _tokens(text)
    tok_hash = lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * ROLLING_BASE + tok_hash(t)) % ROLLING_MOD,
    )


def token_fingerprint_stats(docs: DataFrame) -> DataFrame:
    """r9 merged single-scan projection: the BPE-ish pre-tokenizer
    split counts (word tokens vs non-word symbols) plus the rolling
    document fingerprint, one row-local select over the documents table
    (no join, no shuffle — the merge must not cost a plan shape either
    parent didn't have)."""
    return docs.select(
        F.col("doc_id").cast("long"),
        F.regexp_count(F.col("text"), F.lit(r"[a-zA-Z0-9]+"))
        .cast("long")
        .alias("n_word_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[^a-zA-Z0-9\s]"))
        .cast("long")
        .alias("n_symbol_tokens"),
        rolling_fingerprint(F.col("text")).alias("fp"),
    )


def repetition_stats(docs: DataFrame, n: int = 3) -> DataFrame:
    """Repetition quality signals, the standard LLM-corpus filters for
    template/boilerplate spam (beyond the reference's scope; extends its
    quality-predicate family, SURVEY.md §2 op 14):

    - ``top_tok_ratio``: most-frequent-token count / total tokens —
      catches single-token floods;
    - ``rep_ngram_ratio``: fraction of n-gram OCCURRENCES that are
      repeats of an earlier occurrence (1 - distinct/total) — catches
      copy-pasted passages; 0.0 for docs shorter than n tokens.

    Physical shape: one explode + two-level groupBy for the token mode
    (map-side partial aggregation, no skew — keys are (doc_id, token)),
    and a narrow per-row HOF pass for the n-gram ratio. Both ratios are
    single IEEE divisions of exact int64 counts, so the DuckDB oracle
    hash-matches bit-for-bit."""
    from ..functions.text import shingles

    toks = F.split(F.col("text"), " ")
    sh = shingles(toks, n)
    per_row = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(sh).cast("long").alias("total_ng"),
        F.size(F.array_distinct(sh)).cast("long").alias("distinct_ng"),
    )
    tok_counts = (
        docs.select("doc_id", F.explode(toks).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("max_tok"))
    )
    return per_row.join(tok_counts, "doc_id").select(
        F.col("doc_id").cast("long"),
        "n_tok",
        (F.col("max_tok").cast("double") / F.col("n_tok").cast("double")).alias(
            "top_tok_ratio"
        ),
        F.when(F.col("total_ng") > 0,
               (F.col("total_ng") - F.col("distinct_ng")).cast("double")
               / F.col("total_ng").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("rep_ngram_ratio"),
    )


def top_tokens_per_lang(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-language heavy hitters: the ``k`` most frequent tokens for
    each language, ``(lang, rank, tok, n)``.

    The frequency groupBy is the only corpus-size shuffle (map-side
    partial counts); the ranking window runs over the tiny per-language
    count table. Ties break on the token string, so the output is
    cross-engine deterministic. At 100 TB the exact count table is still
    small (vocabulary-bounded); if vocabulary itself explodes (raw
    n-grams), swap the exact count for a count-min/topK sketch upstream
    and keep this ranking stage unchanged.
    """
    from pyspark.sql import Window

    counts = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tok").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "lang",
            F.col("rank").cast("long"),
            "tok",
            F.col("n").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrubbing — a pretraining-pipeline staple (public pipelines such
# as CCNet, RefinedWeb and Dolma all run a regex redaction pass before
# training). The reference has no text stack at all; this extends the
# documents-table family the same way the other textops do.
#
# Patterns deliberately stay inside the syntax subset that Java regex
# (Spark executors) and RE2 (the DuckDB oracle) interpret identically:
# character classes, bounded repetition, \b, \d, alternation — no
# lookaround, no backreferences, no possessive quantifiers. Order
# matters and is part of the contract: emails first (their domain part
# may contain dots that the IP pattern would otherwise bite), phones
# before IPs (both are digit runs; replacement tokens contain no
# digits, so later patterns can never match inside an earlier
# redaction).
#
# The phone pattern covers four real-world shapes (r7 VERDICT item 5 —
# CCNet/Dolma-style passes match several formats), as one alternation
# because pii_counts keys a dict on the kind. Alternative order is
# deliberate and identical under Java/RE2/`re` leftmost-first
# semantics:
#   1. international-ish dashed  12-345-678-9012
#   2. parenthesized area code   (123) 456-7890 / (123)456.7890
#   3. US dashed/dotted          123-456-7890 / 123.456.7890
#   4. bare 10-digit             1234567890 (word-boundary guarded)
# The dotted shape cannot bite an IP (quads are 1-3 digits; the shape
# needs a 4-digit tail), and the bare shape cannot bite inside the
# longer shapes because those match first at the same position.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (
        "phone",
        r"\b\d{2,3}-\d{3}-\d{3}-\d{4}\b"
        r"|\(\d{3}\) ?\d{3}[-. ]\d{4}\b"
        r"|\b\d{3}[-.]\d{3}[-.]\d{4}\b"
        r"|\b\d{10}\b",
        "<PHONE>",
    ),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind match counts, evaluated on the UNscrubbed text so no
    count ever sees an earlier kind's replacement token. Native
    ``regexp_extract_all`` + ``size`` (JVM-side, codegen); long-typed
    for cross-engine schema stability."""
    return {
        kind: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).cast(
            "long"
        )
        for kind, pat, _ in PII_PATTERNS
    }


def scrub_pii(text: Column) -> Column:
    """Sequential redaction in ``PII_PATTERNS`` order. A pure per-row
    projection built from chained native ``regexp_replace`` calls —
    embarrassingly parallel, zero shuffle, no Python boundary; at
    100 TB this runs at scan speed, CPU-bound on the regex engine
    (the correct shape for per-byte work, cf. normalized_dedup's
    measured e≈1.0 scale exponent)."""
    out = text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out
