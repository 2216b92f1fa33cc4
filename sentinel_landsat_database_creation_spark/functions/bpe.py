"""Trained merge-table BPE (Sennrich, Haddow & Birch, ACL 2016:
"Neural Machine Translation of Rare Words with Subword Units") — the
tokenizer-faithful token counter the curation family budgets with
(r13, r12 VERDICT item 4). pack_sequences / chunk_split / vocab
budgets counted whitespace-regex tokens; production packing budgets
are BPE-tokenizer tokens, and this module closes that gap without a
tokenizer library.

Determinism design (cross-engine, DuckDB-oracle-checkable):

- TRAINING (:func:`bpe_train`) is the paper's algorithm 1: count all
  adjacent symbol pairs over the word-frequency table (every adjacent
  position, weighted by word frequency — the reference get_stats
  rule), merge the most frequent pair everywhere (left-to-right,
  non-overlapping), repeat. The paper's implementation breaks count
  ties arbitrarily (dict order); here ties break to the
  LEXICOGRAPHICALLY SMALLEST pair — the one divergence, chosen so
  both engines derive the identical table. ``end_token`` appends the
  paper's ``</w>`` word-boundary marker; the pipeline default omits
  it (words are already whitespace-delimited rows here, so the marker
  only adds a constant token per word).
- ENCODING (:func:`bpe_encode_word`) is the canonical subword
  encoder: repeatedly merge the adjacent pair with the LOWEST merge
  rank (leftmost occurrence first), until no pair is in the table.
  A pair that re-forms after later merges looks up its FIRST
  (minimum) rank. Iterated-leftmost equals the trainer's
  left-to-right scan: merging (a,b) at position i can create no new
  (a,b) match across the seam (that would need b == a||b or
  a == a||b, i.e. an empty symbol), so per-rank application order
  cannot diverge between the two engines' evaluation shapes.

Scale shape (100 TB): training state is the TOP-``top_words``
word-frequency table — capped and collected (the vocab-LIMIT
precedent, operators/dedup.py vocab collection), constant in corpus
size; the merge loop runs driver-side in microseconds. Encoding runs
over the DISTINCT-WORD table only (Zipf-bounded, ~vocab-sized at any
corpus scale — the word-encode cache every production tokenizer
keeps), as ONE Arrow-batched mapInPandas over broadcast merge ranks;
the corpus-sized work — word explode, count, the word→length join,
the per-doc sum — is all native (the join build side is the
vocab-sized length table, hinted shuffle_hash). Per-word BPE is
genuinely iterative row-local logic, the same boundary class as the
mandated media decode.

Reference parity: the reference engine has no tokenizer; this extends
its data model per the LLM-pipeline mandate (SURVEY.md §2 extensions).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..memo import value_memo


def bpe_train(
    word_freqs: list[tuple[str, int]],
    n_merges: int,
    end_token: str | None = None,
) -> list[tuple[str, str]]:
    """Sennrich et al. training over a (word, frequency) table:
    returns the ordered merge list [(left, right), ...] (rank =
    position). Stops early when no adjacent pair remains. Ties break
    (max count, then lexicographically smallest pair) — see module
    docstring."""
    state = [
        (list(w) + ([end_token] if end_token else []), int(n))
        for w, n in word_freqs
    ]
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        pairs: dict[tuple[str, str], int] = {}
        for syms, n in state:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        new_state = []
        for syms, n in state:
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_state.append((out, n))
        state = new_state
    return merges


def bpe_merge_ranks(
    merges: list[tuple[str, str]],
) -> dict[tuple[str, str], int]:
    """Pair -> FIRST rank (a pair re-formed and re-merged later keeps
    its minimum rank — the deterministic duplicate rule both engines
    share)."""
    ranks: dict[tuple[str, str], int] = {}
    for r, p in enumerate(merges):
        ranks.setdefault(tuple(p), r)
    return ranks


def bpe_encode_word(
    word: str,
    ranks: dict[tuple[str, str], int],
    end_token: str | None = None,
) -> list[str]:
    """Canonical BPE encode: repeatedly merge the lowest-rank adjacent
    pair (leftmost occurrence), until none is in the table."""
    syms = list(word) + ([end_token] if end_token else [])
    while len(syms) >= 2:
        best: tuple[int, int] | None = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or r < best[0]):
                best = (r, i)
        if best is None:
            break
        i = best[1]
        syms[i : i + 2] = [syms[i] + syms[i + 1]]
    return syms


def bpe_merges_md5(merges: list[tuple[str, str]]) -> str:
    """Canonical digest of a merge table — 'rank:left:right' joined by
    '|' (the DuckDB mirror string_aggs the identical rendering), so a
    driver entry pins the exact trained table as one constant column."""
    canon = "|".join(f"{i}:{l}:{r}" for i, (l, r) in enumerate(merges))
    return hashlib.md5(canon.encode()).hexdigest()


def train_bpe_from_docs(
    docs: DataFrame,
    n_merges: int = 24,
    top_words: int = 64,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Train merges on the corpus's TOP-``top_words`` word-frequency
    table (count DESC, word ASC — exact and deterministic): one
    map-side-combined groupBy + a bounded top-k collect (the
    vocab-LIMIT precedent; constant in corpus size), then the
    driver-side Sennrich loop. Memoized per (session, corpus plan,
    params) with memo.value_memo, which charges the miss-path build to
    memo:train_bpe."""

    def build():
        wf = (
            docs.select(
                F.explode(
                    F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
                ).alias("word")
            )
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("word"))
            .limit(top_words)
            .collect()
        )
        return bpe_train([(r["word"], r["n"]) for r in wf], n_merges)

    return value_memo(docs, ("train_bpe", n_merges, top_words, text_col), build)


def bpe_word_lengths(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """(word, n_bpe) over the corpus's DISTINCT words — the word-encode
    cache. The Python boundary is exactly here and exactly vocab-sized:
    one Arrow-batched mapInPandas over the distinct-word table, merge
    ranks shipped by broadcast variable (they are a few hundred small
    strings)."""
    spark = docs.sparkSession
    ranks_bc = spark.sparkContext.broadcast(bpe_merge_ranks(merges))

    def _encode_batches(batches):
        import pandas as pd

        ranks = ranks_bc.value
        for pdf in batches:
            words = pdf["word"]
            yield pd.DataFrame(
                {
                    "word": words,
                    "n_bpe": [
                        len(bpe_encode_word(w, ranks)) for w in words
                    ],
                }
            )

    dw = docs.select(
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        ).alias("word")
    ).distinct()
    return dw.mapInPandas(_encode_batches, "word string, n_bpe long")


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_words, n_bpe): whitespace token count next to the
    BPE token count — the tokenizer-faithful budget feed. Corpus-side
    work is native end to end: explode, per-(doc, word) count, one
    equi-join against the vocab-sized length table (build side hinted
    shuffle_hash — small at every scale but not worth a broadcast
    guarantee), one per-doc sum."""
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    words = docs.select(
        F.col(id_col), F.explode(toks).alias("word")
    ).groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("c"))
    lens = bpe_word_lengths(docs, merges, text_col)
    per_doc = (
        words.join(lens.hint("shuffle_hash"), "word")
        .groupBy(id_col)
        .agg(F.sum(F.col("c") * F.col("n_bpe")).alias("n_bpe"))
    )
    totals = docs.select(
        F.col(id_col), F.size(toks).cast("long").alias("n_words")
    )
    return totals.join(per_doc, id_col).select(
        F.col(id_col).cast("long"),
        "n_words",
        F.col("n_bpe").cast("long").alias("n_bpe"),
    )
