"""Trained merge-table BPE (functions/bpe.py): the Sennrich et al.
(ACL 2016) reference example from the paper, the overlapping-run edge
the iterated-leftmost SQL mirror must share, Spark/Python encode
parity, and toy-corpus equivalence against the committed recursive-CTE
oracle."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from sentinel_landsat_database_creation_spark.functions.bpe import (
    bpe_encode_word,
    bpe_merge_ranks,
    bpe_merges_md5,
    bpe_token_counts,
    bpe_train,
    bpe_word_lengths,
    train_bpe_from_docs,
)


def test_sennrich_paper_example():
    """The paper's worked example (§3.2 / Algorithm 1): training on
    {low:5, lower:2, newest:6, widest:3} with the </w> marker yields
    merges es, est, est</w>, lo, low — and 'lowest' encodes to
    ['low', 'est</w>'], the paper's showcase segmentation."""
    wf = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = bpe_train(wf, n_merges=5, end_token="</w>")
    assert merges == [
        ("e", "s"),
        ("es", "t"),
        ("est", "</w>"),
        ("l", "o"),
        ("lo", "w"),
    ]
    ranks = bpe_merge_ranks(merges)
    assert bpe_encode_word("lowest", ranks, end_token="</w>") == [
        "low",
        "est</w>",
    ]


def test_overlapping_runs_left_to_right():
    """Overlapping matches ('aaaa' under merge (a,a)) must merge
    left-to-right non-overlapping — the one case where iterated
    leftmost (the SQL mirror's step rule) and a naive all-positions
    replace diverge."""
    merges = bpe_train([("aaaa", 3), ("aaa", 2)], n_merges=1)
    assert merges == [("a", "a")]
    ranks = bpe_merge_ranks(merges)
    assert bpe_encode_word("aaaa", ranks) == ["aa", "aa"]
    assert bpe_encode_word("aaaaa", ranks) == ["aa", "aa", "a"]
    # training applies the same scan: a second merge over the merged
    # state sees (aa, aa) from 'aaaa' and (aa, a) from 'aaa'/'aaaaa'
    merges2 = bpe_train([("aaaa", 3), ("aaa", 2)], n_merges=2)
    assert merges2 == [("a", "a"), ("aa", "aa")]


def test_duplicate_pair_keeps_min_rank():
    ranks = bpe_merge_ranks([("a", "b"), ("x", "y"), ("a", "b")])
    assert ranks[("a", "b")] == 0 and ranks[("x", "y")] == 1


def test_empty_and_null_words():
    ranks = bpe_merge_ranks([("a", "b")])
    assert bpe_encode_word("", ranks) == []
    assert bpe_encode_word("c", ranks) == ["c"]


def test_spark_encode_matches_python(spark):
    """The mapInPandas distinct-word encode equals the pure-Python
    encoder word for word on the real fixture corpus."""
    from sentinel_landsat_database_creation_spark.sources.testdata import (
        table,
    )

    d = table(spark, "/root/testdata/sf0.001", "documents")
    merges = train_bpe_from_docs(d, n_merges=24, top_words=64)
    ranks = bpe_merge_ranks(merges)
    got = {
        r["word"]: r["n_bpe"]
        for r in bpe_word_lengths(d, merges).collect()
    }
    assert got
    for w, n in got.items():
        assert n == len(bpe_encode_word(w, ranks)), w


def test_toy_corpus_matches_oracle(spark):
    """The full entry arithmetic — training, encoding, per-doc counts,
    shard pack, merge digest — on a hand-sized corpus with NULL text,
    an empty doc, and an overlapping-run word, against the committed
    recursive-CTE oracle instantiated at small params."""
    import duckdb

    from sentinel_landsat_database_creation_spark.plans.driver_queries_ext import (
        _sql_bpe_token_checks,
    )

    rows = [
        (0, "aba abab aba cc"),
        (1, "abab aaaa cc aba"),
        (2, None),
        (3, ""),
        (4, "aaaa aaaa aba"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe_from_docs(docs, n_merges=4, top_words=8)
    counts = bpe_token_counts(docs, merges)
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    got = [
        tuple(r)
        for r in counts.withColumn(
            "shard", (F.col("doc_id") % 32).cast("long")
        )
        .withColumn("cum", F.coalesce(F.sum("n_bpe").over(w), F.lit(0)))
        .withColumn(
            "seq_id", F.floor(F.col("cum").cast("double") / 4).cast("long")
        )
        .withColumn("merges_md5", F.lit(bpe_merges_md5(merges)))
        .select("doc_id", "n_words", "n_bpe", "shard", "seq_id", "merges_md5")
        .orderBy("doc_id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = con.execute(
        _sql_bpe_token_checks(n_merges=4, top_words=8, budget=4)
    ).fetchall()
    assert got == want and len(got) == 5


def test_unicode_words_match_oracle(spark):
    """Non-ASCII words: Python symbols are codepoints (list(word)) and
    the DuckDB mirror slices with word[i:i], which is character-based —
    this pins that the two agree on multibyte text (accents, CJK,
    an astral-plane emoji), so a multilingual corpus cannot silently
    diverge between the engines."""
    import duckdb

    from sentinel_landsat_database_creation_spark.plans.driver_queries_ext import (
        _sql_bpe_token_checks,
    )

    rows = [
        (0, "héllo héllo übermaß"),
        (1, "日本語 日本語 héllo"),
        (2, "nó combining mañana"),
        (3, "🦜🦜🦜 héllo 🦜🦜🦜"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe_from_docs(docs, n_merges=6, top_words=8)
    assert merges, "multibyte pairs must train"
    counts = {
        r["doc_id"]: (r["n_words"], r["n_bpe"])
        for r in bpe_token_counts(docs, merges).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            _sql_bpe_token_checks(n_merges=6, top_words=8, budget=4)
        ).fetchall()
    }
    assert counts == want and len(counts) == 4
