"""streaming/lsh_delta.py's arithmetic contract: the row-local
shingle/signature/bucket columns must reproduce the batch
_shingle_rows / minhash_signatures / banded_buckets values
bit-for-bit — that equality is what lets the stream probe v2 indexes
written by the batch writer and share the batch oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentinel_landsat_database_creation_spark.operators.dedup import (
    _shingle_rows,
    banded_buckets,
    minhash_signatures,
)
from sentinel_landsat_database_creation_spark.streaming.lsh_delta import (
    _bucket_array,
    _shingle_keys,
    _signature,
)

DOCS = [
    (1, "a b c d e f g h"),
    (2, "a b c d e f g h"),  # exact dup of 1
    (3, "x y z a b c q r s t"),
    (4, "lone words without overlap here"),
    (5, "naïve café résumé 日本語 emoji 🛰️ mix"),
    (6, ""),  # empty -> no shingles
    (7, None),  # NULL -> no shingles (r9 coalescing)
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_row_local_shingle_keys_match_batch(spark, docs):
    batch = {
        (r["doc_id"], r["s"]) for r in _shingle_rows(docs, 2).collect()
    }
    stream_form = {
        (r["doc_id"], s)
        for r in docs.select(
            "doc_id", _shingle_keys(F.col("text"), 2).alias("sh")
        ).collect()
        for s in r["sh"]
    }
    assert stream_form == batch
    assert any(d == 5 for d, _ in batch)  # unicode docs shingled


def test_row_local_signature_matches_batch(spark, docs):
    ex = _shingle_rows(docs, 2)
    batch = {
        r["doc_id"]: tuple(r[f"h{i}"] for i in range(8))
        for r in minhash_signatures(ex, 8).collect()
    }
    stream_form = {
        r["doc_id"]: tuple(r[f"h{i}"] for i in range(8))
        for r in docs.select(
            "doc_id", _shingle_keys(F.col("text"), 2).alias("sh")
        )
        .filter(F.size("sh") > 0)
        .select("doc_id", *_signature(F.col("sh"), 8))
        .collect()
    }
    assert stream_form == batch
    assert batch[1] == batch[2]  # identical docs, identical signatures


def test_row_local_buckets_match_batch(spark, docs):
    ex = _shingle_rows(docs, 2)
    sig = minhash_signatures(ex, 8)
    batch = {
        (r["doc_id"], r["bucket"])
        for r in banded_buckets(sig, 8, 4).collect()
    }
    stream_form = {
        (r["doc_id"], b)
        for r in docs.select(
            "doc_id", _shingle_keys(F.col("text"), 2).alias("sh")
        )
        .filter(F.size("sh") > 0)
        .select("doc_id", *_signature(F.col("sh"), 8))
        .select("doc_id", _bucket_array(8, 4).alias("bk"))
        .collect()
        for b in r["bk"]
    }
    assert stream_form == batch
    # v2 format: band id recoverable from bits 60+, 4 bands present
    assert {b >> 60 for _, b in batch} == {0, 1, 2, 3}


def test_bucket_array_rejects_band_overflow():
    with pytest.raises(ValueError):
        _bucket_array(16, 8)
