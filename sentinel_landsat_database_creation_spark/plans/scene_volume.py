"""Stage-3 raster-decode pipeline at volume (round-5 VERDICT item 1).

E3 (reference main_function_beta.py:96-212) is the engine's one
MANDATORY Python hot path (SURVEY.md §2.10): GeoTIFF bytes -> band
rasters -> stacked scene tensors. `crop_volume` gave E4 its at-volume
number in round 4; this module does the same for E3: real encoded
GeoTIFF files on disk (written executor-side through the op-8 raster
sink), scanned with the real binaryFile source, decoded through the
real mapInPandas boundary, stacked with the real groupBy — nothing
stubbed — at ~100 scene-pairs (800 band files + 200 decoy files,
~29M pixels at the bench scale factor).

Fixture contract (same discipline as plans/crop_volume.py): pixel
values are a pure integer closed form of (pair, band, pixel index) —
v = ((pid*7919 + b*104729 + i*1299709) % 104723) % 1000 — INTEGER-
VALUED, so the float32 encode/decode round-trip is bit-exact and the
DuckDB oracle re-derives the per-scene pixel statistics from the spec
alone, checking the whole encode -> scan -> filter -> decode -> stack
computation rather than a Spark-written artifact. Band index b is the
channel rank: 0..3 for the HR (Sentinel-2 B2/B3/B4/B8) side, 4..7 for
the LR (Landsat B02/B03/B04/B05) side, so the two sensors draw from
disjoint value streams. Each scene also gets a non-band "QA" decoy
file that `filter_band_files` (ops 10/11) must drop before decode.

Arrow-batch / heap story (measured at the bench fixture, local[32],
the deliberate 1 GB heap): a decode task's working set is one Arrow
batch of (scene, band, content) rows plus the pixel lists it is
building. Batch size here is bounded by the PARTITION, not by
spark.sql.execution.arrow.maxRecordsPerBatch (default 10k rows): the
binaryFile source packs ~ maxPartitionBytes/file_size files per
partition, so a 128 MB partition of 148 KB band files is ~870 rows
~= 128 MB of content per batch — fine at this file size. At real
scene sizes (an S2 tile band is ~100-500 MB) the SAME plan needs
maxRecordsPerBatch ~= 1-4 and maxPartitionBytes sized to a few files,
or the Arrow batch alone exceeds executor memory; that is the knob a
cluster deployment tunes, not a plan change. Measured here (numpy
codec paths in sources/tiffcodec.py): the one-time fixture write is
~3.5 s (800 band + 200 decoy files, ~66 MB, executor-side op-8
encode), and the full scan -> filter -> decode -> stack -> stats query
runs ~3.6-4.0 s wall on 32 cores inside the deliberate 1 GB heap with
zero spill — ~15M decoded px/s through the Python boundary. Before the
numpy codec the same query's FIRST run was ~19 s (struct.unpack +
per-value float() in every worker), which is the measured cost of
letting per-element Python touch a volume path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.stacking import (
    LANDSAT_BANDS,
    SENTINEL_BANDS,
    filter_band_files,
)
from ..sources.raster import encode_rasters, scene_file_listing

HR_PREFIX = "S2HR"
LR_PREFIX = "HLSLR"


def params_for(sf_dir: str) -> dict:
    """Fixture sizing by scale factor (crop_volume convention): the
    driver's correctness gate (sf0.01) gets 6 pairs of 64/21-px scenes
    the oracle re-derives instantly; bench (sf0.1) gets ~100 pairs at
    192/64 px — ~29M decoded pixels through the Python boundary."""
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.01
    if sf >= 5:  # tier-2 scale probe (scripts/verify_scale.py): the
        # Arrow-boundary pipeline's correctness point beyond the sf1
        # tier (round-6 VERDICT item 5) — 4x tier-1 pairs / 40x bench
        # (~2.6 GB, 40k files; the full 10x decade would be a 6.5 GB /
        # 100k-file fixture whose listing alone stresses the deliberate
        # 1 GB harness driver; the plan is pair-parallel either way and
        # the scaling axis, pair count, is exercised identically).
        # Same 8-slot Arrow-concurrency cap as the sf1 tier.
        return {"n_pairs": 4000, "hrw": 192, "lrw": 64, "slots": 8}
    if sf >= 0.5:  # scale-up probe (scripts/bench_scale.py): 10x bench.
        # slots=8: every concurrent Arrow-boundary task holds netty
        # direct-memory arenas (32 MB chunks); 32 concurrent encode
        # tasks exhausted the JVM's 1 GB direct-memory cap at this
        # volume (measured: OutOfDirectMemoryError at used=1.04 GB).
        # 8 slots keep the same throughput shape inside the cap — the
        # local[32] expression of sizing executor direct memory to the
        # Python-boundary concurrency.
        return {"n_pairs": 1000, "hrw": 192, "lrw": 64, "slots": 8}
    if sf >= 0.05:
        return {"n_pairs": 100, "hrw": 192, "lrw": 64}
    return {"n_pairs": 6, "hrw": 64, "lrw": 21}


def _scene_col(prefix: str, pid) -> F.Column:
    name = F.concat(
        F.lit(f"{prefix}_p"), F.lpad(pid.cast("string"), 5, "0")
    )
    # "<scene_dir>/<scene_name>" lands the reference's root/scene/files
    # layout through the op-8 sink (sources/raster.py:encode_rasters)
    return F.concat(name, F.lit("/"), name)


def _band_rows(
    spark: SparkSession,
    n_pairs: int,
    prefix: str,
    width: int,
    b0: int,
    bands: tuple[str, ...],
    slots: int = 32,
    consts: tuple[int, int, int, int] = (7919, 104729, 1299709, 104723),
) -> DataFrame:
    """One row per (pair, band): deterministic integer-valued float
    pixels from the closed-form spec, generated as native expressions
    (the Python boundary is crossed only inside the op-8 encoder).
    ``consts`` = (pid, band, index, modulus) multipliers; the defaults
    are this fixture's spec, plans/scene_compressed.py passes its own
    so the two fixtures can never satisfy each other's oracles."""
    c_pid, c_band, c_idx, c_mod = consts
    pid = (F.col("id") / 4).cast("long")
    bi = (F.col("id") % 4).cast("long")
    n_px = width * width
    px = F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(n_px - 1).cast("long")),
        lambda i: (
            (
                (pid * F.lit(c_pid) + (bi + F.lit(b0)) * F.lit(c_band) + i * F.lit(c_idx))
                % F.lit(c_mod)
            )
            % F.lit(1000)
        ).cast("double"),
    )
    return spark.range(0, n_pairs * 4, 1, min(slots, n_pairs * 4)).select(
        _scene_col(prefix, pid).alias("scene"),
        F.element_at(
            F.array(*[F.lit(b) for b in bands]), (bi + 1).cast("int")
        ).alias("band"),
        F.lit(width).alias("height"),
        F.lit(width).alias("width"),
        px.alias("pixels"),
    )


def _decoy_rows(spark: SparkSession, n_pairs: int, prefix: str) -> DataFrame:
    """A non-band QA file per scene: filter_band_files must drop these
    before any byte reaches the decoder."""
    pid = F.col("id")
    return spark.range(0, n_pairs, 1, 8).select(
        _scene_col(prefix, pid).alias("scene"),
        F.lit("QA").alias("band"),
        F.lit(4).alias("height"),
        F.lit(4).alias("width"),
        F.array_repeat(F.lit(0.0), 16).alias("pixels"),
    )


def ensure_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Write the GeoTIFF fixture once per session (applicationId-keyed
    path, so existence implies this session built it) and charge the
    one-time write to a `setup:` bench line instead of whichever query
    triggered it (bench.py drains memo.drain_build_log)."""
    from ..memo import timed
    from ..session import session_tmp_path

    p = params_for(sf_dir)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    root = session_tmp_path(spark, f"scene_vol_{tag}")
    marker = os.path.join(root, "_DONE")
    if os.path.exists(marker):
        return root
    with timed("setup:scene_volume_write"):
        slots = p.get("slots", 32)
        rows = (
            _band_rows(
                spark, p["n_pairs"], HR_PREFIX, p["hrw"], 0, SENTINEL_BANDS, slots
            )
            .unionByName(
                _band_rows(
                    spark, p["n_pairs"], LR_PREFIX, p["lrw"], 4, LANDSAT_BANDS, slots
                )
            )
            .unionByName(_decoy_rows(spark, p["n_pairs"], HR_PREFIX))
            .unionByName(_decoy_rows(spark, p["n_pairs"], LR_PREFIX))
        )
        encode_rasters(rows, root).write.format("noop").mode("overwrite").save()
        with open(marker, "w") as f:
            f.write("ok")
    return root


def _decode_band_stats(band_files: DataFrame) -> DataFrame:
    """Op-4 decode fused with the per-band integer stats (r14, guide
    §2.3/§8): the SAME decode_tiff_bytes kernel as decode_rasters, but
    what returns to the JVM is (scene, height, width, px_sum, n_high)
    — ~40 B/file instead of the full pixel list. The stats are exact
    (pixels are integer-valued floats; astype(int64) is the same
    truncation as the retired per-element ``x.cast('long')``, ``>=
    500`` compares the identical float values), so the value hash is
    unchanged while the Arrow return transfer (~29M doubles at sf0.1)
    and the pixel-payload stack exchange both disappear — at 100 TB
    those were the two corpus-sized movements of bytes whose CONTENT
    the query never needed past this stage."""
    from ..sources.raster import decode_tiff_bytes

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            hs, ws, sums, highs = [], [], [], []
            for v in pdf["content"]:
                h, w, px = decode_tiff_bytes(v)
                a = np.asarray(px)
                hs.append(h)
                ws.append(w)
                sums.append(int(a.astype(np.int64).sum()))
                highs.append(int((a >= 500).sum()))
            yield pd.DataFrame(
                {
                    "scene": pdf["scene"],
                    "height": hs,
                    "width": ws,
                    "px_sum": sums,
                    "n_high": highs,
                }
            )

    return band_files.select("scene", "band", "content").mapInPandas(
        run, "scene string, height int, width int, px_sum long, n_high long"
    )


def _summarize_side(
    files: DataFrame, prefix: str, bands: tuple[str, ...], label: str
) -> DataFrame:
    """filter (ops 10/11) -> decode+stats (op 4, the mapInPandas
    boundary) -> metadata-only stack -> integer per-scene pixel stats.
    The stats are exact longs (pixel values are integer-valued floats),
    so the whole decode path lands in the value hash.

    r14 (guide §2.3, both consumers in the checked prefix): the decode
    boundary now returns per-file STATS rows (_decode_band_stats)
    instead of pixel lists, and the stack aggregation reproduces
    stack_bands' exact drop semantics (exactly n_bands files per
    scene, min(dims)==max(dims) — the r6 Expand-avoiding form) over
    those metadata rows: the per-scene sums distribute over the band
    concat, so the results are value-identical while the exchange
    carries ~40 B/scene-file rather than the stacked pixel payload."""
    side = files.filter(F.col("scene").startswith(prefix))
    band_files = filter_band_files(side, bands)
    stats = _decode_band_stats(band_files)
    dims = F.struct("height", "width")
    n_bands = 4
    per_scene = (
        stats.groupBy("scene")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(dims).alias("_dmin"),
            F.max(dims).alias("_dmax"),
            F.sum("px_sum").alias("px_sum"),
            F.sum("n_high").alias("n_high"),
        )
        .filter(
            (F.col("_n") == n_bands) & (F.col("_dmin") == F.col("_dmax"))
        )
    )
    return per_scene.select(
        F.regexp_extract("scene", r"_p(\d+)$", 1).cast("long").alias("pair_id"),
        F.lit(label).alias("side"),
        F.col("_dmin.height").cast("long").alias("height"),
        F.col("_dmin.width").cast("long").alias("width"),
        F.col("_n").cast("long").alias("n_bands"),
        F.col("px_sum"),
        F.col("n_high"),
    )


def q_scene_tensors_volume(spark: SparkSession, sf: str) -> DataFrame:
    """E3 at volume: binaryFile scan of the written GeoTIFF tree ->
    band-file filter -> mapInPandas decode -> band stack -> per-scene
    integer pixel stats, HR and LR sides unioned. The DuckDB oracle
    re-derives every stat from the closed-form pixel spec.

    The two sensor sides are materialized ONE AT A TIME (each side's
    summary is n_scenes rows of longs, eagerly checkpointed) instead
    of as one union job: a single job lets AQE materialize both
    decode+stack exchanges concurrently, and at the 10x probe volume
    the interleaved payload stages exceeded the 1 GB harness heap
    while either side alone ran in ~15 s (measured,
    scripts/bench_scale.py). Sequencing bounds peak memory to one
    side's pipeline; on a memory-sized cluster the concurrent form is
    fine, but the sequential one costs nothing (the sides share no
    work) and survives everywhere."""
    root = ensure_fixture(spark, sf)
    files = scene_file_listing(spark, root)
    hr = _summarize_side(files, HR_PREFIX, SENTINEL_BANDS, "hr").localCheckpoint(
        eager=True
    )
    lr = _summarize_side(files, LR_PREFIX, LANDSAT_BANDS, "lr").localCheckpoint(
        eager=True
    )
    return hr.unionByName(lr).orderBy("pair_id", "side")


# Oracle GENERATED from the fixture parameters so the same closed form
# can check any tier (round-5 VERDICT item 3; scripts/verify_scale.py
# uses the sf1-tier instantiation). The driver compares the sf0.01
# instantiation (6 pairs, 64x64 HR, 21x21 LR), which also proves the
# generator. Per (pair, side) sums of the closed-form integer pixel
# values; the QA decoys and band filtering have no closed-form
# footprint here — a filter bug surfaces as wrong n_bands/stack
# composition (stack_bands drops scenes whose band count != 4) or
# contaminated sums.
def scale_oracle_sql(
    n_pairs: int,
    hrw: int,
    lrw: int,
    consts: tuple[int, int, int, int] = (7919, 104729, 1299709, 104723),
) -> str:
    c_pid, c_band, c_idx, c_mod = consts
    return f"""
WITH hr AS (
  SELECT pid, 'hr' AS side, {hrw} AS height, {hrw} AS width, 4 AS n_bands,
         sum(v) AS px_sum,
         count(*) FILTER (WHERE v >= 500) AS n_high
  FROM (
    SELECT pid, ((pid*{c_pid} + b*{c_band} + i*{c_idx}) % {c_mod}) % 1000 AS v
    FROM range(0, {n_pairs}) t1(pid), range(0, 4) t2(b), range(0, {hrw * hrw}) t3(i)
  )
  GROUP BY pid
),
lr AS (
  SELECT pid, 'lr' AS side, {lrw} AS height, {lrw} AS width, 4 AS n_bands,
         sum(v) AS px_sum,
         count(*) FILTER (WHERE v >= 500) AS n_high
  FROM (
    SELECT pid, ((pid*{c_pid} + b*{c_band} + i*{c_idx}) % {c_mod}) % 1000 AS v
    FROM range(0, {n_pairs}) t1(pid), range(4, 8) t2(b), range(0, {lrw * lrw}) t3(i)
  )
  GROUP BY pid
)
SELECT CAST(pid AS BIGINT) AS pair_id, side,
       CAST(height AS BIGINT) AS height, CAST(width AS BIGINT) AS width,
       CAST(n_bands AS BIGINT) AS n_bands,
       CAST(px_sum AS BIGINT) AS px_sum, CAST(n_high AS BIGINT) AS n_high
FROM (SELECT * FROM hr UNION ALL SELECT * FROM lr)
ORDER BY pair_id, side
"""


SQL_SCENE_TENSORS_VOLUME = scale_oracle_sql(6, 64, 21)
