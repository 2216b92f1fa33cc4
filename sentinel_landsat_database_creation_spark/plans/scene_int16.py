"""Stage-3 decode over int16 + scale_factor rasters (round-6 VERDICT
item 3, driver-grade proof).

Real HLS v2.0 bands are NOT float rasters: they ship int16 digital
numbers with a 0.0001 scale factor (reflectance = DN * scale + offset,
recorded where GDAL reads it), usually LZW-compressed with the
horizontal predictor. The reference gets all of this for free through
rasterio (data_pair/fct_data_extraction.py:21-26 — its float tensors
are scaled reflectance); `scene_tensors_volume`/`_compressed` proved
the float32 layouts, so this entry closes the remaining gap: the
integer-sample path END TO END in a rasterio-less deployment —

  int16 encode (SampleFormat=2, predictor 2, LZW) with the calibration
  landed in GDAL_METADATA -> binaryFile scan -> band filter ->
  mapInPandas decode (sources/raster.py:decode_rasters_scaled, raw DN
  plus scale/offset columns) -> NATIVE calibration arithmetic ->
  per-scene reflectance stats.

Design choices that matter at 100 TB:

- The decoder returns RAW DN (exactly like rasterio's .read(1), which
  does not auto-calibrate); reflectance is applied JVM-side as integer
  MICRO-units — micros_per_dn = round(scale*1e6) and
  offset_micros = round(offset*1e6) are per-file scalars from the
  decoded columns, so every stat is an exact BIGINT and the whole
  calibration path lands in the driver's value hash. A codec that
  drops or misparses the GDAL_METADATA tag defaults to scale=1 and
  breaks the hash by 4 orders of magnitude.
- Per-file stats are computed BEFORE the per-scene groupBy, so pixel
  arrays never enter a shuffle at all — only (pair_id, 4 longs) rows
  move. This is strictly better shuffle shape than stacking first;
  the stack operator (op 42) keeps its own driver checks in the two
  float-scene entries.
- DN values span [-2000, 10000]: negatives exercise signed int16
  decode and the mod-2^16 wrap of the horizontal predictor; the
  n_water stat (negative reflectance, the real HLS water/shadow
  artifact) pins the sign handling.

JP2 scope note: Sentinel-2 L2A granules are JPEG2000; a wavelet codec
is out of scope for the pure-Python fallback, so JP2 stays
rasterio-only by design (decode_tiff_bytes* take the rasterio path
whenever it is installed — the plan is identical, only the per-file
decoder changes).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.stacking import LANDSAT_BANDS, filter_band_files
from ..sources.raster import encode_rasters, scene_file_listing
from .scene_volume import _decoy_rows, _scene_col

PREFIX = "HLSI16"  # fixture namespace, disjoint from the float scenes

# closed-form DN spec (distinct constants from both float fixtures):
# dn = ((pid*6113 + b*74093 + i*858599) % 95789) % 12001 - 2000
_P_PID, _P_BAND, _P_IDX, _P_MOD = 6113, 74093, 858599, 95789
_DN_SPAN, _DN_SHIFT = 12001, 2000
SCALE, OFFSET = 0.0001, -0.1
_HIGH_MICRO = 300000  # reflectance >= 0.3 in micro-units


def params_for(sf_dir: str) -> dict:
    """sf0.01 (driver gate): 6 scenes at 48 px; sf>=0.05 (bench): 40
    scenes at 96 px; sf>=0.5 (scale probe): 400 scenes. The LZW loop is
    pure Python on both sides of the fixture, so sizes stay an order
    under the float volume anchors — the entry pins correctness of the
    integer path, the float anchors carry the volume story."""
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.01
    if sf >= 0.5:
        return {"n_pairs": 400, "w": 96}
    if sf >= 0.05:
        return {"n_pairs": 40, "w": 96}
    return {"n_pairs": 6, "w": 48}


def _dn_rows(spark: SparkSession, n_pairs: int, width: int) -> DataFrame:
    """One row per (scene, band): int16 DN pixels from the closed-form
    spec as native expressions (Python is crossed only inside the op-8
    encoder)."""
    pid = (F.col("id") / 4).cast("long")
    bi = (F.col("id") % 4).cast("long")
    n_px = width * width
    px = F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(n_px - 1).cast("long")),
        lambda i: (
            (
                (pid * F.lit(_P_PID) + bi * F.lit(_P_BAND) + i * F.lit(_P_IDX))
                % F.lit(_P_MOD)
            )
            % F.lit(_DN_SPAN)
            - F.lit(_DN_SHIFT)
        ).cast("double"),
    )
    return spark.range(0, n_pairs * 4, 1, min(32, n_pairs * 4)).select(
        _scene_col(PREFIX, pid).alias("scene"),
        F.element_at(
            F.array(*[F.lit(b) for b in LANDSAT_BANDS]), (bi + 1).cast("int")
        ).alias("band"),
        F.lit(width).alias("height"),
        F.lit(width).alias("width"),
        px.alias("pixels"),
    )


def ensure_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Write the int16 fixture once per session (applicationId-keyed
    path; one-time cost charged to a `setup:` bench line)."""
    from ..memo import timed
    from ..session import session_tmp_path

    p = params_for(sf_dir)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    root = session_tmp_path(spark, f"scene_i16_{tag}")
    marker = os.path.join(root, "_DONE")
    if os.path.exists(marker):
        return root
    with timed("setup:scene_i16_write"):
        rows = _dn_rows(spark, p["n_pairs"], p["w"]).unionByName(
            _decoy_rows(spark, p["n_pairs"], PREFIX)
        )
        # LZW + horizontal predictor: the classic integer distribution
        # layout, and the layout whose encoder the round-7 EOI-width fix
        # touched — keeping it under the driver's hash gate.
        encode_rasters(
            rows,
            root,
            compression="lzw",
            predictor=2,
            dtype="int16",
            scale=SCALE,
            offset=OFFSET,
        ).write.format("noop").mode("overwrite").save()
        with open(marker, "w") as f:
            f.write("ok")
    return root


def q_scene_tensors_int16(spark: SparkSession, sf: str) -> DataFrame:
    """binaryFile scan -> band filter (QA decoys drop pre-decode) ->
    int16 DN decode with calibration columns -> exact micro-unit
    reflectance stats per scene, all-native after the decode boundary."""
    from ..sources.raster import decode_rasters_scaled

    root = ensure_fixture(spark, sf)
    files = scene_file_listing(spark, root)
    band_files = filter_band_files(files, LANDSAT_BANDS)
    decoded = decode_rasters_scaled(band_files)

    # exact integer calibration: micros_per_dn/offset_micros are exact
    # scalar rounds of the per-file calibration columns
    mpd = F.round(F.col("scale") * 1e6).cast("long")
    offm = F.round(F.col("offset") * 1e6).cast("long")
    micro = lambda x: x.cast("long") * mpd + offm  # noqa: E731
    zero = F.lit(0).cast("long")
    per_file = decoded.select(
        F.regexp_extract("scene", r"_p(\d+)$", 1).cast("long").alias("pair_id"),
        F.aggregate("pixels", zero, lambda a, x: a + micro(x)).alias("s"),
        F.size(F.filter("pixels", lambda x: micro(x) < 0))
        .cast("long")
        .alias("w"),
        F.size(F.filter("pixels", lambda x: micro(x) >= _HIGH_MICRO))
        .cast("long")
        .alias("h"),
    )
    return (
        per_file.groupBy("pair_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bands"),
            F.sum("s").cast("long").alias("refl_sum_micro"),
            F.sum("w").cast("long").alias("n_water"),
            F.sum("h").cast("long").alias("n_high"),
        )
        .orderBy("pair_id")
    )


def scale_oracle_sql(n_pairs: int, width: int) -> str:
    """Closed-form oracle generator (CLAUDE.md rule: generators, never
    hand-edited instantiations): reflectance micro-units from the DN
    spec. micro = dn*round(SCALE*1e6) + round(OFFSET*1e6), all-integer."""
    mpd = round(SCALE * 1e6)
    offm = round(OFFSET * 1e6)
    return f"""
WITH px AS (
  SELECT pid,
         (((pid*{_P_PID} + b*{_P_BAND} + i*{_P_IDX}) % {_P_MOD}) % {_DN_SPAN} - {_DN_SHIFT})
           * {mpd} + {offm} AS micro
  FROM range(0, {n_pairs}) t1(pid), range(0, 4) t2(b),
       range(0, {width * width}) t3(i)
)
SELECT CAST(pid AS BIGINT) AS pair_id,
       CAST(4 AS BIGINT) AS n_bands,
       CAST(sum(micro) AS BIGINT) AS refl_sum_micro,
       CAST(count(*) FILTER (WHERE micro < 0) AS BIGINT) AS n_water,
       CAST(count(*) FILTER (WHERE micro >= {_HIGH_MICRO}) AS BIGINT) AS n_high
FROM px
GROUP BY pid
ORDER BY pair_id
"""


SQL_SCENE_TENSORS_INT16 = scale_oracle_sql(6, 48)
