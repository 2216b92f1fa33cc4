"""Streaming incremental near-dup: a document stream probes a PERSISTED
LSH index (operators/dedup.py:lsh_index_write, bucket format v2) and
exact-verifies candidates against the static corpus — the batch
``delta_neardup`` lifecycle as a Structured Streaming plan.

This is THE production streaming use-case the engine's dedup family
advertises: a growing corpus lands its bucket index once; new documents
arrive continuously and each micro-batch flags its near-duplicates of
the existing corpus without ever rescanning it. The batch twin
(q_delta_neardup / q_lsh_delta_checks) pins the same math under the
driver hash through the same oracle.

Per-row vs dictionary hashing: the batch path hashes each salted md5
once per DISTINCT shingle via a dictionary join (minhash_signatures) —
a shuffle before the band join that append-mode streaming cannot
express. Here every stage before the index probe is ROW-LOCAL
(array HOFs: distinct shingle keys, per-band signature mins, bucket
fold), the shape the batch docstring measured ~2x slower per byte but
which needs NO state and no shuffle until the probe itself. For a
stream that trade is exactly right: micro-batches are small relative
to the corpus, and row-local map work scales with the BATCH while a
dictionary join would shuffle per micro-batch.

State: the only stateful operator is the candidate-pair
dropDuplicates. It grows with the candidate pairs seen (stream docs x
LSH hit rate), never with the corpus, and it lives as long as the
stream: the input carries no event-time column, so there is no
watermark to expire it by. The index and the corpus shingle arrays are
STATIC sides of stream-static joins — Spark re-broadcasts/streams them
per micro-batch without state.

Arithmetic contract: shingle keys, signature mins, and bucket folds
reproduce operators/dedup.py:_shingle_rows / minhash_signatures /
banded_buckets bit-for-bit (same hash60 / band<<60 arithmetic, pinned
by tests/test_streaming_lsh_delta.py against the batch path), so the
stream probes v2 indexes written by the batch writer and shares the
batch oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import hash60, shingles


def _shingle_keys(text: Column, n: int) -> Column:
    """Row-local distinct 60-bit shingle keys — the streaming twin of
    _shingle_rows' explode -> hash60 -> distinct (NULL text coalesces
    to '' exactly like the batch path since r9)."""
    toks = F.split(F.coalesce(text, F.lit("")), " ")
    return F.array_distinct(
        F.transform(shingles(toks, n), lambda sraw: hash60(sraw))
    )


def _signature(sh: Column, n_hashes: int) -> list[Column]:
    """Row-local MinHash signature over the key array: min of the
    salted hash60 family per member — identical values to
    minhash_signatures' dictionary-join form (same salt rendering,
    same 60-bit min; the hash60 ordering lemma makes min-of-prefixes
    exact)."""
    return [
        F.array_min(
            F.transform(
                sh,
                lambda s: hash60(F.concat(F.lit(f"{i}:"), s.cast("string"))),
            )
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]


def _bucket_array(n_hashes: int, bands: int) -> Column:
    """Row-local v2 bucket keys from h0..h{n-1} columns: band id in
    bits 60+, hash60 of the '|'-joined decimal h-values below — the
    banded_buckets fold, minus its explode (the caller explodes)."""
    if bands >= 8:
        raise ValueError("bucket v2 packs the band id into bits 60..62 "
                         "— bands must be < 8")
    rows_per_band = n_hashes // bands
    return F.array(
        *[
            F.lit(i << 60)
            + hash60(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{i * rows_per_band + j}").cast("string")
                        for j in range(rows_per_band)
                    ],
                )
            )
            for i in range(bands)
        ]
    )


def lsh_delta_stream(
    batch_stream: DataFrame,
    index: DataFrame,
    corpus_shingles: DataFrame,
    threshold: float = 0.3,
    n: int = 2,
    n_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """The unbounded plan: (batch_doc, corpus_doc, n_inter, n_union,
    jaccard) for every stream document whose Jaccard against an
    indexed corpus document reaches ``threshold``.

    ``batch_stream`` is a streaming (doc_id, text) frame; ``index`` a
    static (bucket, doc_id) frame (the persisted v2 index, any
    generation mix); ``corpus_shingles`` a static
    (doc_id, sh array<long>) frame of the corpus's distinct shingle
    keys (build it from shingle_rows_materialized so batch siblings
    share the memo). Output is append-only: row-local shingle/
    signature/bucket columns, one stream-static equi-join on bucket,
    a candidate dropDuplicates (the sole state), and a second
    stream-static join to fetch corpus arrays for exact verification."""
    sh = _shingle_keys(F.col("text"), n)
    docs = (
        batch_stream.select(F.col("doc_id").alias("batch_doc"), sh.alias("sh"))
        .filter(F.size("sh") > 0)
        .select("batch_doc", "sh", *_signature(F.col("sh"), n_hashes))
    )
    probes = docs.select(
        "batch_doc",
        "sh",
        F.explode(_bucket_array(n_hashes, bands)).alias("bucket"),
    )
    cand = (
        probes.join(
            index.select("bucket", F.col("doc_id").alias("corpus_doc")),
            "bucket",
        )
        .select("batch_doc", "corpus_doc", "sh")
        .dropDuplicates(["batch_doc", "corpus_doc"])
    )
    verified = cand.join(
        corpus_shingles.select(
            F.col("doc_id").alias("corpus_doc"), F.col("sh").alias("sh_c")
        ),
        "corpus_doc",
    )
    n_inter = F.size(F.array_intersect("sh", "sh_c")).cast("long")
    n_union = (F.size("sh") + F.size("sh_c")).cast("long") - F.col("n_inter")
    return (
        verified.select(
            F.col("batch_doc").cast("long"),
            F.col("corpus_doc").cast("long"),
            n_inter.alias("n_inter"),
            "sh",
            "sh_c",
        )
        .withColumn("n_union", n_union)
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double") / F.col("n_union").cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "batch_doc", "corpus_doc", "n_inter", "n_union", "jaccard"
        )
    )
