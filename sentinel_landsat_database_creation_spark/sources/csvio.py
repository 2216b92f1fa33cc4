"""CSV catalog source with the reference's header validation (op 3;
fct_data_extraction.py:220-227 checks the ``['class','path','data']``
header before pairing)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import CATALOG_SCHEMA

CATALOG_HEADER = ["class", "path", "data"]


def _file_header_lines(spark: SparkSession, path: str) -> list[tuple[str, str]]:
    """(file, first line) for EVERY file under ``path``, distributed and
    order-safe: a text-source partition whose ``_metadata.file_block_start``
    is 0 begins at byte 0 of its file, so its first row IS that file's
    header line. A bare ``.first()`` over a multi-file directory may
    land on any partition — including one that starts mid-file — and
    reject a valid catalog on a data row."""
    rows = spark.read.text(path).select(
        F.input_file_name().alias("file"),
        F.col("_metadata.file_block_start").alias("block_start"),
        "value",
    )

    def first_of_file(it):
        first = next(it, None)
        if first is not None and first["block_start"] == 0:
            yield (first["file"], first["value"])

    return rows.rdd.mapPartitions(first_of_file).collect()


def read_catalog_csv(spark: SparkSession, path: str) -> DataFrame:
    df = (
        spark.read.option("header", True)
        .schema(CATALOG_SCHEMA)
        .csv(path)
    )
    # Validate the actual header line of every file, mirroring the
    # reference's check — schema-on-read would silently mis-map a
    # reordered file, and a directory of part files must be valid
    # file-by-file.
    headers = _file_header_lines(spark, path)
    if not headers:
        raise ValueError(f"catalog csv {path} is empty")
    for fname, line in headers:
        if line.split(",") != CATALOG_HEADER:
            raise ValueError(
                f"catalog csv {fname} must have header {CATALOG_HEADER!r}, "
                f"got {line!r}"
            )
    return df
