"""Multimodal payload columns: image/audio/video as opaque binary
(``media_id``, ``kind``, ``payload``, ``mime``), processed behind
mapInPandas.

No codec ships here: ``fake_features`` and ``frame_sample`` run the
Spark plumbing a real decoder or demuxer would use (binary column in
Arrow batches, schema, partitioning, batch shape) with deterministic
md5-based bodies, which is what lets the media registry entries have
exact oracles; ``media_stats`` is the native-expression metadata
projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .._serde import register_self

register_self(__name__)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("features", ArrayType(DoubleType(), False), False),
    ]
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Derive a media table from the documents fixture: the utf-8 text
    bytes stand in for an encoded payload."""
    return docs.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
    )


def fake_features(media: DataFrame, n_features: int = 4) -> DataFrame:
    """Deterministic feature extraction over the binary payload through
    the real mapInPandas path: n_features doubles derived from the
    payload's md5 — stable across partitionings and engines."""

    def run(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            n_bytes, features = [], []
            for payload in pdf["payload"]:
                payload = bytes(payload) if payload is not None else b""
                digest = hashlib.md5(payload).digest()
                n_bytes.append(len(payload))
                features.append(
                    [
                        int.from_bytes(digest[2 * i : 2 * i + 2], "big") / 65535.0
                        for i in range(n_features)
                    ]
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": n_bytes,
                    "features": features,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        run, FEATURE_SCHEMA
    )


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame_offset", LongType(), False),
        StructField("frame_md5", StringType(), False),
    ]
)


def frame_sample(media: DataFrame, n_frames: int = 4, frame_bytes: int = 16) -> DataFrame:
    """Video frame-sampling plumbing: evenly-spaced byte offsets into the
    payload stand in for decoded frames (one output row per sampled
    frame — a row explosion, exactly the shape ffmpeg-based sampling
    produces). Runs in mapInPandas so a real demuxer drops in without
    changing the plan."""

    def run(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            out = {
                "media_id": [],
                "frame_idx": [],
                "frame_offset": [],
                "frame_md5": [],
            }
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                if not payload:
                    continue
                step = max(len(payload) // n_frames, 1)
                for i in range(min(n_frames, len(payload))):
                    off = i * step
                    chunk = payload[off : off + frame_bytes]
                    out["media_id"].append(media_id)
                    out["frame_idx"].append(i)
                    out["frame_offset"].append(off)
                    out["frame_md5"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(run, FRAME_SCHEMA)


def media_stats(media: DataFrame) -> DataFrame:
    """Native-expression payload stats (no Python): byte length + md5 —
    the metadata projection that runs before any decode at scale."""
    return media.select(
        F.col("media_id"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )
