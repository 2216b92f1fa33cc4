"""Stage-3 decode over COMPRESSED, TILED GeoTIFFs (round-5 VERDICT
item 4, driver-grade proof).

`scene_tensors_volume` (plans/scene_volume.py) proved the E3 pipeline
(reference main_function_beta.py:96-212) at volume — but its fixture is
the op-8 sink's historical uncompressed single-strip layout. Real
HLS/S2 distribution files are Deflate or LZW cloud-optimized GeoTIFFs
(the reference reads them through rasterio,
data_pair/fct_data_extraction.py:21-26); in a rasterio-less deployment
they hit the pure-Python fallback, which until round 6 rejected them at
the first byte. This query drives the NEW codec paths through the full
Spark pipeline with a hash-checked oracle:

- HR side: Deflate-compressed, 16x16-TILED, floating-point-predictor
  (TechNote 3) files — the layout GDAL emits for float COGs.
- LR side: LZW single-strip files — the classic integer-era layout
  (here over float32; the pure-Python LZW is byte-oblivious).

Same fixture contract as scene_volume: integer-valued closed-form
pixels v = ((pid*4889 + b*91193 + i*999983) % 99991) % 1000, so the
float32 encode -> compress -> scan -> filter -> decompress -> predictor
-> stack round-trip is bit-exact and DuckDB re-derives every stat from
the spec alone. Each side keeps a QA decoy file per scene that
filter_band_files (ops 10/11) must drop pre-decode.

Scale note: per-file decode cost rises vs the uncompressed path (zlib
inflate is C-speed; the LZW fallback is Python-loop ~1-2 us/code), but
the plan is IDENTICAL — one mapInPandas boundary, pixels never shuffle
— so the 100 TB shape is unchanged; a production cluster would carry
rasterio and take the same plan with C decoders end to end.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.stacking import LANDSAT_BANDS, SENTINEL_BANDS
from ..sources.raster import encode_rasters, scene_file_listing
from .scene_volume import _band_rows, _decoy_rows, _summarize_side

HR_PREFIX = "S2CG"  # distinct from scene_volume's prefixes: fixtures
LR_PREFIX = "HLSCG"  # must never cross-contaminate a shared tmp tree


def params_for(sf_dir: str) -> dict:
    """sf0.01 (driver gate): 5 pairs at 64/32 px the oracle re-derives
    instantly; sf>=0.05 (bench): 40 pairs at 128/48 px — enough volume
    for a stable per-query number without making the Python LZW loop
    the bench's long pole."""
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.01
    if sf >= 0.05:
        return {"n_pairs": 40, "hrw": 128, "lrw": 48}
    return {"n_pairs": 5, "hrw": 64, "lrw": 32}


# closed-form constants (distinct from scene_volume's so the two
# fixtures can never silently satisfy each other's oracles)
_P_PID, _P_BAND, _P_IDX, _P_MOD = 4889, 91193, 999983, 99991


def _rows(spark, n_pairs, prefix, width, b0, bands):
    return _band_rows(
        spark,
        n_pairs,
        prefix,
        width,
        b0,
        bands,
        consts=(_P_PID, _P_BAND, _P_IDX, _P_MOD),
    )


def ensure_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Write the compressed GeoTIFF fixture once per session
    (applicationId-keyed path) and charge the one-time write to a
    `setup:` bench line (bench.py drains the memo log)."""
    from ..memo import timed
    from ..session import session_tmp_path

    p = params_for(sf_dir)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    root = session_tmp_path(spark, f"scene_cg_{tag}")
    marker = os.path.join(root, "_DONE")
    if os.path.exists(marker):
        return root
    with timed("setup:scene_cg_write"):
        hr = _rows(spark, p["n_pairs"], HR_PREFIX, p["hrw"], 0, SENTINEL_BANDS)
        lr = _rows(spark, p["n_pairs"], LR_PREFIX, p["lrw"], 4, LANDSAT_BANDS)
        hr = hr.unionByName(_decoy_rows(spark, p["n_pairs"], HR_PREFIX))
        lr = lr.unionByName(_decoy_rows(spark, p["n_pairs"], LR_PREFIX))
        # two sink configs -> two writes: Deflate+tiled+float-predictor COGs
        # for the HR side, LZW strips for the LR side
        encode_rasters(
            hr, root, compression="deflate", tile=(16, 16), predictor=3
        ).write.format("noop").mode("overwrite").save()
        encode_rasters(lr, root, compression="lzw").write.format("noop").mode(
            "overwrite"
        ).save()
        with open(marker, "w") as f:
            f.write("ok")
    return root


def q_scene_tensors_compressed(spark: SparkSession, sf: str) -> DataFrame:
    """binaryFile scan of the compressed GeoTIFF tree -> band filter ->
    mapInPandas decode (Deflate/tiled/predictor-3 and LZW through
    sources/tiffcodec.py) -> band stack -> per-scene integer pixel
    stats; sides sequenced like scene_tensors_volume (bounded peak
    memory, plans/scene_volume.py:q_scene_tensors_volume)."""
    root = ensure_fixture(spark, sf)
    files = scene_file_listing(spark, root)
    hr = _summarize_side(files, HR_PREFIX, SENTINEL_BANDS, "hr").localCheckpoint(
        eager=True
    )
    lr = _summarize_side(files, LR_PREFIX, LANDSAT_BANDS, "lr").localCheckpoint(
        eager=True
    )
    return hr.unionByName(lr).orderBy("pair_id", "side")


# Oracle at the driver's sf0.01 fixture (5 pairs, 64x64 HR, 32x32 LR):
# the scene_volume closed-form generator with this fixture's constants.
# A codec bug anywhere in the compressed path (inflate, LZW table walk,
# predictor reassembly, tile placement, edge cropping) lands in px_sum
# or n_high and breaks the hash.
from .scene_volume import scale_oracle_sql as _scale_oracle_sql

SQL_SCENE_TENSORS_COMPRESSED = _scale_oracle_sql(
    5, 64, 32, consts=(_P_PID, _P_BAND, _P_IDX, _P_MOD)
)
