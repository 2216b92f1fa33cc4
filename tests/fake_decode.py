"""Deterministic stand-in for the raster decoder, for tests that need
pixels without caring about bytes."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sentinel_landsat_database_creation_spark.schemas import BAND_RASTER_SCHEMA
from sentinel_landsat_database_creation_spark.sources.raster import _decode_batches


def decode_fake(band_files: DataFrame, height: int, width: int) -> DataFrame:
    """Deterministic decode stand-in: pixels derived from md5(scene/band)
    via the same mapInPandas plumbing (schema, Arrow batches, partition
    shape) the real decoder uses."""

    def run(batches):
        import hashlib

        def one(key):
            seed_bytes = hashlib.md5(key.encode()).digest()
            seed = int.from_bytes(seed_bytes[:4], "big")
            n = height * width
            px = [((seed + 2654435761 * i) % 1000) / 1000.0 + 0.001 for i in range(n)]
            return height, width, px

        return _decode_batches(batches, one, "key")

    cols = band_files.select(
        "scene", "band", F.concat_ws("/", "scene", "band").alias("key")
    )
    return cols.mapInPandas(run, BAND_RASTER_SCHEMA)
