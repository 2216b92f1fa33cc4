"""Raster sources: binary scene listings + GeoTIFF decode/encode
(SURVEY.md §2 ops 1/2/4/8).

The decode step is the engine's one mandatory pandas-UDF boundary
(SURVEY.md §2.10): GeoTIFF bytes -> flattened float pixels. Two
executable paths, chosen per worker at decode time:

- rasterio (when installed): the production path, same call shape as the
  reference (``rasterio.open(...).read(1)``,
  data_pair/fct_data_extraction.py:21-26) — handles compressed / tiled /
  exotic files.
- pure-Python fallback (always available): ``tiffcodec.decode_gray_np``
  (``decode_gray_full`` with the GDAL scale/offset) — strip or tiled
  layouts, uncompressed, Deflate or LZW, with the horizontal or
  floating-point predictor; the tests round-trip through it end-to-end
  via the real mapInPandas plumbing.
"""

from __future__ import annotations

import io
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._serde import register_self
from ..schemas import BAND_RASTER_SCHEMA
from . import tiffcodec

register_self(__name__)

try:  # pragma: no cover - not installed in the test container
    import rasterio  # type: ignore

    HAVE_RASTERIO = True
except ImportError:
    rasterio = None
    HAVE_RASTERIO = False


def scene_file_listing(spark: SparkSession, root: str) -> DataFrame:
    """Ops 1/2: distributed directory scan via the binaryFile source —
    file metadata only (pixel bytes load lazily per partition). Scene
    and band fall out of the path with regexes."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tif")
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"([^/]+)/[^/]+$", 1).alias("scene"),
        F.regexp_extract(F.col("path"), r"([^/]+)$", 1).alias("filename"),
        "path",
        "length",
        "content",
    )


def _decode_batches(batches, decode_one, value_col: str) -> Iterator:
    """Shared mapInPandas body: per Arrow batch, decode one column's
    values into (height, width, pixels) alongside the scene/band keys.
    Columns iterate via zip — never pandas iterrows (row-boxing
    overhead, and the pattern invites copy-paste into hot paths)."""
    import pandas as pd

    for pdf in batches:
        heights, widths, pixels = [], [], []
        for v in pdf[value_col]:
            h, w, px = decode_one(v)
            heights.append(h)
            widths.append(w)
            pixels.append(px)
        yield pd.DataFrame(
            {
                "scene": pdf["scene"],
                "band": pdf["band"],
                "height": heights,
                "width": widths,
                "pixels": pixels,
            }
        )


def decode_tiff_bytes(content: bytes):
    """Band-1 decode of one in-memory GeoTIFF: rasterio when available
    (reference semantics: band 1, float32 —
    data_pair/fct_data_extraction.py:21-26), else the pure-Python
    uncompressed-TIFF fallback. Worker-side: called inside mapInPandas.

    Pixels return as a float32 ndarray (list fallback without numpy):
    pandas columns of ndarray cells serialize to Arrow list<float>
    ~2-3x faster than columns of Python lists, and this function sits
    on the engine's one mandatory Python hot path."""
    if HAVE_RASTERIO:
        with rasterio.open(io.BytesIO(bytes(content))) as src:
            arr = src.read(1).astype("float32")
        return int(arr.shape[0]), int(arr.shape[1]), arr.ravel()
    return tiffcodec.decode_gray_np(bytes(content))


def decode_rasters(band_files: DataFrame) -> DataFrame:
    """Op 4: GeoTIFF band-1 decode as mapInPandas over Arrow batches.

    Input needs (scene, band, content) — e.g. scene_file_listing joined
    to a band mapping. Executable with or without rasterio (see
    decode_tiff_bytes)."""

    def run(batches):
        return _decode_batches(batches, decode_tiff_bytes, "content")

    cols = band_files.select("scene", "band", "content")
    return cols.mapInPandas(run, BAND_RASTER_SCHEMA)


def decode_tiff_bytes_full(content: bytes):
    """decode_tiff_bytes plus the band calibration (scale, offset) from
    the GDAL metadata — the int16-DN HLS v2.0 read shape. rasterio
    surfaces the same values as dataset.scales/offsets; the fallback
    parses the GDAL_METADATA tag itself (tiffcodec.decode_gray_full).
    Pixels stay RAW DN in both paths (rasterio's .read(1) does not
    auto-calibrate); the engine applies DN*scale + offset as a native
    expression downstream, JVM-side."""
    if HAVE_RASTERIO:
        with rasterio.open(io.BytesIO(bytes(content))) as src:
            arr = src.read(1).astype("float32")
            scale = float(src.scales[0]) if src.scales else 1.0
            offset = float(src.offsets[0]) if src.offsets else 0.0
        return int(arr.shape[0]), int(arr.shape[1]), arr.ravel(), scale, offset
    return tiffcodec.decode_gray_full(bytes(content))


def decode_rasters_scaled(band_files: DataFrame) -> DataFrame:
    """Op 4, calibrated-integer variant: band-1 decode emitting raw DN
    pixels PLUS the per-band (scale, offset) calibration — the columns
    a physical-units pipeline (HLS reflectance) consumes. Same
    mapInPandas boundary and Arrow shape as decode_rasters; the two
    extra columns are scalars per file, so the batch payload is
    unchanged."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            heights, widths, pixels, scales, offsets = [], [], [], [], []
            for v in pdf["content"]:
                h, w, px, sc, off = decode_tiff_bytes_full(v)
                heights.append(h)
                widths.append(w)
                pixels.append(px)
                scales.append(sc)
                offsets.append(off)
            yield pd.DataFrame(
                {
                    "scene": pdf["scene"],
                    "band": pdf["band"],
                    "height": heights,
                    "width": widths,
                    "pixels": pixels,
                    "scale": scales,
                    "offset": offsets,
                }
            )

    from ..schemas import BAND_RASTER_SCALED_SCHEMA

    cols = band_files.select("scene", "band", "content")
    return cols.mapInPandas(run, BAND_RASTER_SCALED_SCHEMA)


def encode_rasters(
    rasters: DataFrame,
    out_dir: str,
    origin: tuple[float, float] | None = None,
    pixel_size: tuple[float, float] | None = None,
    compression: str | None = None,
    tile: tuple[int, int] | None = None,
    predictor: int = 1,
    dtype: str = "float32",
    scale: float | None = None,
    offset: float | None = None,
) -> DataFrame:
    """Op 8 (``array2raster``, reference
    data_pair/fct_data_extraction.py:14-20): write one single-band
    float32 GeoTIFF per raster row as ``{out_dir}/{scene}_{band}.tif``,
    via the pure-Python encoder (optional
    ModelPixelScale/ModelTiepoint geo-tags mirroring the reference's
    geotransform args; ``compression``/``tile``/``predictor`` forward
    to tiffcodec.encode_gray for the cloud-optimized layouts real
    distribution files use). Returns (scene, band, path, n_bytes)
    rows; trigger with an action.

    Files write from executors, so ``out_dir`` must be a filesystem all
    executors share (local path on local[*], NFS/fuse mount on a
    cluster). For engine-native analytics output prefer the partitioned
    Parquet sink (plans/satellite.py) — this sink exists for GDAL
    interop parity with the reference."""

    def run(batches):
        import pandas as pd

        os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            paths, sizes = [], []
            for scene, band, h, w, px in zip(
                pdf["scene"], pdf["band"], pdf["height"], pdf["width"], pdf["pixels"]
            ):
                data = tiffcodec.encode_gray(
                    int(h),
                    int(w),
                    px,
                    origin=origin,
                    pixel_size=pixel_size,
                    compression=compression,
                    tile=tile,
                    predictor=predictor,
                    dtype=dtype,
                    scale=scale,
                    offset=offset,
                )
                path = os.path.join(out_dir, f"{scene}_{band}.tif")
                # a scene value may carry a directory prefix
                # ("<scene_dir>/<name>") to land the reference's
                # root/scene/band-file layout; create it executor-side
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "wb") as f:
                    f.write(data)
                paths.append(path)
                sizes.append(len(data))
            yield pd.DataFrame(
                {
                    "scene": pdf["scene"],
                    "band": pdf["band"],
                    "path": paths,
                    "n_bytes": sizes,
                }
            )

    cols = rasters.select("scene", "band", "height", "width", "pixels")
    return cols.mapInPandas(
        run, "scene string, band string, path string, n_bytes long"
    )
