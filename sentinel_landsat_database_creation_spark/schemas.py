"""Fixed schemas for every engine table (SURVEY.md §1).

The reference keeps these implicit (hand-built dicts, positional CSV
columns); here they are explicit StructTypes so sources validate on read
and sinks are stable for the driver's schema checks.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Stage-1 scene catalog (reference: data_pair/L_out.csv:1, S_out.csv:1).
CATALOG_SCHEMA = StructType(
    [
        StructField("class", StringType(), False),
        StructField("path", StringType(), False),
        StructField("data", StringType(), False),
    ]
)


# Per-band raster rows: the decoded form of one GeoTIFF band
# (reference: rasterio .read(1), data_pair/fct_data_extraction.py:21-26).
BAND_RASTER_SCHEMA = StructType(
    [
        StructField("scene", StringType(), False),
        StructField("band", StringType(), False),
        StructField("height", IntegerType(), False),
        StructField("width", IntegerType(), False),
        StructField("pixels", ArrayType(FloatType(), False), False),
    ]
)

# BAND_RASTER_SCHEMA plus the band calibration (GDAL scale/offset, the
# int16-DN HLS v2.0 shape): pixels stay RAW DN exactly like rasterio's
# .read(1); reflectance = DN*scale + offset is applied downstream as a
# native Spark expression.
BAND_RASTER_SCALED_SCHEMA = StructType(
    list(BAND_RASTER_SCHEMA)
    + [
        StructField("scale", DoubleType(), False),
        StructField("offset", DoubleType(), False),
    ]
)


# Stage-4 crop pair rows — one accepted crop pair per row, replacing the
# reference's in-memory list-of-tensors (main_code.py:60-66). This is the
# shape that keeps 100 TB embarrassingly parallel.
CROP_PAIR_SCHEMA = StructType(
    [
        StructField("pair_id", LongType(), False),
        StructField("center_r", IntegerType(), False),
        StructField("center_c", IntegerType(), False),
        StructField("hr_pixels", ArrayType(ArrayType(FloatType(), False), False), False),
        StructField("lr_pixels", ArrayType(ArrayType(FloatType(), False), False), False),
        StructField("hr_size", IntegerType(), False),
        StructField("lr_size", IntegerType(), False),
    ]
)
