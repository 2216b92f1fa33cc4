"""End-to-end satellite pipeline: the reference's four stages as one
lazy Spark plan graph (SURVEY.md §3 E1-E4), Parquet as the inter-stage
format.

    stages 1-2  build_scene_pairs     week-class pairs    (E1+E2)
    stage 3     decode + stack_bands  scene tensors       (E3)
    stage 4     crop engine           aligned crop pairs  (E4)

Stages 1-2 are a metadata problem: ``build_scene_pairs`` collects the
non-empty (sensor, week bin) set — bounded by the week grid, at most
2 * n_bins rows — pairs the bins on the driver and joins the scene
names to that table; the labeled catalogs (``build_catalog``,
``pair_catalogs``) remain the CSV-output path, not the pipeline's.

At 100 TB each stage boundary is an ordinary shuffle (or a Parquet
handoff if checkpointing is desired). Scene tensors partition by scene.
Stage 4 is one per-pair Arrow kernel over the pair tensors: its only
driver collect is the mask's candidate-center list (bounded by one
centerline), each pair row crosses into Python once, and crops come
back as rows partitioned like their pairs — no Exchange ever carries a
band or crop column. Only the compat greedy walk serializes, within one
scene pair, bounded by that pair's candidate list (SURVEY.md §4).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dates import GOLDEN_GRID, WeekGrid, hls_date, s2_date
from ..operators.catalog import binned_scenes, paired_bins
from ..operators.crops import collected_centers, crop_pairs
from ..operators.stacking import stack_bands
from ..session import local_df


@dataclass(frozen=True)
class CropConfig:
    """Stage-4 knobs; defaults shrink the reference's 300/3/0.7 run
    (main_code.py:50) to fixture scale."""

    batch_size: int = 12
    scale: int = 3
    pct_overlap: float = 0.7
    overlap: bool = True
    compat: bool = True  # as-built quirks vs clean native semantics
    shuffle_seed: int | None = None


def build_scene_pairs(
    s2_listing: DataFrame,
    hls_listing: DataFrame,
    s2_root: str = "S2",
    hls_root: str = "L8",
    grid: WeekGrid = GOLDEN_GRID,
) -> DataFrame:
    """Stages 1-2: pair every S2 scene with every HLS scene of the same
    week class. Returns (pair_id, s2_scene, hls_scene) rows in the
    order of the exploded ``pair_catalogs`` table (S2 week, S2 name,
    HLS name), ``pair_id = xxhash64(s2_path, hls_path)``.

    No catalog is built. The one driver collect is the distinct
    non-empty (sensor, bin) set over both listings — at most
    ``2 * grid.n_bins`` rows, bounded by the week grid, never by the
    data — and ``operators/catalog.py:paired_bins`` turns it into the
    (s2_bin, hls_bin) table that equal class labels would pair: a
    label is the dense rank over a sensor's non-empty bins, interior
    empty bins consume no letter, and native pairing drops the
    placeholders. That table attaches as one literal relation,
    broadcast to the S2 scene projection; the HLS names (metadata, as
    ``pair_catalogs``' broadcast right side was) join on their bin.
    Each S2 name pairs once (``pair_catalogs`` keys its output by S2
    path); HLS names keep their multiplicity. The final sort holds for
    a direct consumer; under a join (``build_pair_tensors``) Spark's
    EliminateSorts drops it, so the pipeline pays no range shuffle.

    ``build_catalog`` and ``pair_catalogs`` stay for the CSV outputs
    and their registry users: they emit labels and placeholder rows,
    which this path never needs.
    """
    s2 = binned_scenes(s2_listing, s2_date(F.col("data")), grid)
    hls = binned_scenes(hls_listing, hls_date(F.col("data")), grid)
    # One task: the listings are metadata, and a single partition lets
    # the distinct finish without an Exchange — one job.
    nonempty = (
        s2.select(F.lit(0).alias("sensor"), "bin")
        .unionByName(hls.select(F.lit(1).alias("sensor"), "bin"))
        .coalesce(1)
        .distinct()
        .collect()
    )
    bins = local_df(
        s2_listing.sparkSession,
        paired_bins(
            [b for s, b in nonempty if s == 0], [b for s, b in nonempty if s == 1]
        ),
        "s2_bin long, hls_bin long",
    )
    s2_side = s2.select(
        F.col("bin").alias("s2_bin"),
        F.col("data").alias("s2_data"),
        F.concat_ws("/", F.lit(s2_root), "data").alias("s2_path"),
    ).distinct()
    hls_side = hls.select(
        F.col("bin").alias("hls_bin"),
        F.col("data").alias("hls_data"),
        F.concat_ws("/", F.lit(hls_root), "data").alias("hls_path"),
    )
    pairs = s2_side.join(F.broadcast(bins), "s2_bin").join(
        F.broadcast(hls_side), "hls_bin"
    )
    return pairs.orderBy("s2_bin", "s2_data", "hls_data").select(
        F.xxhash64("s2_path", "hls_path").alias("pair_id"),
        F.element_at(F.split("s2_path", "/"), -1).alias("s2_scene"),
        F.element_at(F.split("hls_path", "/"), -1).alias("hls_scene"),
    )


def build_pair_tensors(
    scene_pairs: DataFrame,
    s2_rasters: DataFrame,
    hls_rasters: DataFrame,
) -> DataFrame:
    """Stage 3: stack decoded band rasters per scene and attach both
    tensors to each pair row. Tensors join by scene key — each scene
    decodes once however many pairs reference it."""
    s2_t = stack_bands(s2_rasters)
    hls_t = stack_bands(hls_rasters)
    return (
        scene_pairs.join(
            s2_t.select(
                F.col("scene").alias("s2_scene"),
                F.col("bands").alias("hr_bands"),
                F.col("width").alias("hr_width"),
                F.col("height").alias("hr_height"),
            ),
            "s2_scene",
        )
        .join(
            hls_t.select(
                F.col("scene").alias("hls_scene"),
                F.col("bands").alias("lr_bands"),
                F.col("width").alias("lr_width"),
                F.col("height").alias("lr_height"),
            ),
            "hls_scene",
        )
    )


def build_crop_dataset(
    pair_tensors: DataFrame,
    mask: DataFrame,
    cfg: CropConfig = CropConfig(),
) -> DataFrame:
    """Stage 4: candidate centers x pair tensors -> quality-filtered,
    overlap-suppressed crop pairs, one CROP_PAIR_SCHEMA row per accepted
    crop with both pixel payloads.

    The reference cuts crops one pair at a time (``little_pair``), so
    the stage has no cross-pair state: the mask's candidate centers are
    collected once on the driver (one small job), then
    ``operators/crops.py:crop_pairs`` slices, quality-gates, suppresses
    (compat greedy walk or native grid) and emits the survivors of each
    pair row in one mapInArrow — one Python crossing per pair row, no
    Exchange carrying a band or crop column."""
    centers = collected_centers(mask, cfg.batch_size, compat_bounds=cfg.compat)
    return crop_pairs(
        pair_tensors, centers, cfg.batch_size, cfg.scale, cfg.pct_overlap,
        compat=cfg.compat, overlap=cfg.overlap, shuffle_seed=cfg.shuffle_seed,
    )
