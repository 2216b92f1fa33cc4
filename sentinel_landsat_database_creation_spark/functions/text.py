"""Text-analysis column expressions (north-star extensions, BASELINE.json).

All native pyspark.sql.functions — tokenization, n-gram shingling,
stopword stats, md5 fingerprints — so the hot path stays inside
whole-stage codegen. The md5 family doubles as the cross-engine
deterministic hash (Spark and DuckDB both emit lowercase hex md5), which
is what lets MinHash/SimHash have exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny, order-matters stopword profile used by quality scoring.
STOPWORDS = ("the", "a", "data", "value", "row")


def normalize_text(text: Column) -> Column:
    """C4-style canonical form for dedup: lowercase, strip everything
    outside [a-z0-9 ], collapse whitespace runs, trim. Two documents
    differing only in case, punctuation, or spacing normalize
    identically — the canonicalization layer exact-hash dedup runs on
    in practice. Regex subset chosen to behave identically under Java
    regex (Spark) and RE2 (DuckDB): literal classes only, no
    lookaround, no unicode classes."""
    lowered = F.lower(text)
    stripped = F.regexp_replace(lowered, "[^a-z0-9 ]", " ")
    collapsed = F.regexp_replace(stripped, " +", " ")
    return F.trim(collapsed)


def shingles(toks: Column, n: int = 3) -> Column:
    """Overlapping word n-grams joined with '_'; empty if < n tokens.

    Implementation: a fold of zip_with over n shifted slices — the
    shingle at position i is toks[i] '_' toks[i+1] '_' ... This costs n
    slice calls + (n-1) zip_withs PER DOCUMENT, vs the transform
    formulation's L slice + array_join calls per document (L = token
    count). HOFs run in the interpreter, not codegen, so per-call count
    dominates: measured 2.7x faster at sf0.1 (2.04 s -> 0.76 s for the
    exploded-distinct shingle table), on top of the earlier 1.7x from
    array-native ops over element_at + concat_ws.

    The short-doc case needs the explicit ``when``: for size(toks) < n
    the slice length L goes non-positive and slice throws at runtime."""
    length = F.size(toks) - (n - 1)
    out = F.slice(toks, 1, length)
    for k in range(1, n):
        out = F.zip_with(
            out,
            F.slice(toks, 1 + k, length),
            lambda a, b: F.concat(a, F.lit("_"), b),
        )
    return F.when(F.size(toks) >= n, out).otherwise(
        F.array_repeat(F.lit(""), 0)
    )


def hash60(col: Column | str) -> Column:
    """60-bit equality/ordering key: the first 15 hex chars of md5,
    read as a BIGINT. The narrow shuffle key for hash-heavy dedup
    paths (span_dedup/scrub_spans since r7; designated for the MinHash
    shingle/signature family in r8) — one long instead of a ~50-byte
    string per shuffled row.

    Cross-engine contract (pinned by tests/test_hash60.py over an
    adversarial unicode corpus): Spark's ``conv(substring(md5(s),1,15),
    16,10)`` == DuckDB's ``('0x' || substr(md5(s),1,15))::BIGINT`` ==
    Python's ``int(hashlib.md5(s.encode()).hexdigest()[:15], 16)`` for
    every UTF-8 string — all three hash the UTF-8 bytes and render
    lowercase hex, and 15 hex chars = 60 bits < 2^63 so the cast never
    wraps. Oracles must mirror the DuckDB form verbatim.

    Ordering lemma (what makes the r8 MinHash narrowing EXACT, not
    approximate): md5 hex is fixed-width with digit order = numeric
    order, so for any set S of digests, min over the 60-bit prefixes
    equals the prefix of the lexicographic min — ``min(prefix(x)) ==
    prefix(min(x))``. Signatures computed as mins of hash60 values are
    therefore identical to prefixes of the hex-string signature;
    band-bucket collisions from the dropped 68 bits only ever ADD
    candidate pairs, which every consumer verifies downstream.

    Collision budget: expected colliding pairs ~ n^2 / 2^61; at 1e9
    distinct keys that is ~0.4 expected collisions, at 1e12 (a true
    100 TB span corpus) ~2e5 — past ~1e10 keys widen to two such
    prefix columns (120 bits); the knob is ``hash120`` below."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash120(col: Column | str) -> list[Column]:
    """The widened two-word key hash60's docstring commits to past
    ~1e10 distinct keys (r9, r8 VERDICT item 7): hex chars 1-15 and
    16-30 of the SAME md5 digest as two BIGINT columns — shuffle on
    both, or group/join on the pair, for a 120-bit key at 16 bytes/row
    (collision budget n^2/2^121: ~4e-13 expected colliding pairs even
    at 1e12 keys).

    Cross-engine contract (pinned by tests/test_hash60.py alongside
    the one-word form): word 0 is exactly ``hash60``; word 1 is
    Spark ``conv(substring(md5(s),16,15),16,10)`` == DuckDB
    ``('0x' || substr(md5(s),16,15))::BIGINT`` == Python
    ``int(hexdigest()[15:30], 16)``. Ordering lemma, two-word form:
    fixed-width hex digit order = numeric order per word, so
    lexicographic (w0, w1) order equals 30-hex-char prefix order and
    ``min(struct(w0, w1))`` commutes with prefixing exactly as the
    one-word lemma — a consumer widening its signature mins stays
    exact, not approximate. The two substring calls share one md5
    (whole-stage codegen subexpression elimination; both words sit in
    the same projection)."""
    digest = F.md5(col)
    return [
        F.conv(F.substring(digest, 1, 15), 16, 10).cast("long"),
        F.conv(F.substring(digest, 16, 15), 16, 10).cast("long"),
    ]
