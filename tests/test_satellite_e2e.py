"""End-to-end satellite pipeline test over real files on disk: the
binaryFile scene listing (ops 1/2), band filtering (ops 10/11), the
mapInPandas decode plumbing (op 4, deterministic stand-in), band
stacking (op 42), week-class pairing (stages 1-2), and the crop engine
(stage 4) — one pass through plans/satellite.py exactly as a cluster
would run it, at fixture scale."""

from __future__ import annotations

from fake_decode import decode_fake

from sentinel_landsat_database_creation_spark.operators.stacking import (
    filter_band_files,
)
from sentinel_landsat_database_creation_spark.plans.satellite import (
    CropConfig,
    build_crop_dataset,
    build_pair_tensors,
    build_scene_pairs,
)
from sentinel_landsat_database_creation_spark.sources.raster import scene_file_listing

S2_BANDS = ("B2", "B3", "B4", "B8")
HLS_BANDS = ("B02", "B03", "B04", "B05")

S2_SCENE = "20230315T104629_N0509_T32UNU"
HLS_SCENE = "HLS.L30.T32UNU.2023074T104629.v2.0"


def _make_tree(tmp_path):
    s2_root = tmp_path / "S2"
    hls_root = tmp_path / "L8"
    for root, scene, bands in (
        (s2_root, S2_SCENE, S2_BANDS),
        (hls_root, HLS_SCENE, HLS_BANDS),
    ):
        d = root / scene
        d.mkdir(parents=True)
        for b in bands:
            (d / f"{scene}.{b}.tif").write_bytes(b"\x00fakegeotiff" + b.encode())
        (d / f"{scene}.B02.tif.aux.xml").write_bytes(b"<xml/>")
        (d / "thumbnail.jpg").write_bytes(b"jpg")
    return str(s2_root), str(hls_root)


def test_satellite_pipeline_end_to_end(spark, tmp_path):
    s2_root, hls_root = _make_tree(tmp_path)

    # ops 1/2: binaryFile listing (xml/jpg never reach the decode)
    s2_files = scene_file_listing(spark, s2_root)
    assert {r["scene"] for r in s2_files.collect()} == {S2_SCENE}
    s2_bands = filter_band_files(s2_files, S2_BANDS)
    hls_bands = filter_band_files(scene_file_listing(spark, hls_root), HLS_BANDS)
    assert s2_bands.count() == 4 and hls_bands.count() == 4
    # deterministic channel order (op 11's fix)
    ranks = {
        r["band"]: r["band_rank"] for r in s2_bands.collect()
    }
    assert ranks == {"B2": 1, "B3": 2, "B4": 3, "B8": 4}

    # op 4 plumbing + op 42: decode (stand-in) and stack; S2 at 12x12,
    # HLS at 4x4 -> scale ratio 3. band_rank re-attaches by (scene,
    # band) key after the decode boundary.
    s2_rasters = decode_fake(s2_bands, height=12, width=12).join(
        s2_bands.select("scene", "band", "band_rank"), ["scene", "band"]
    )
    hls_rasters = decode_fake(hls_bands, height=4, width=4).join(
        hls_bands.select("scene", "band", "band_rank"), ["scene", "band"]
    )

    # stages 1-2: catalogs + week-class pairing from the dir listings
    pairs = build_scene_pairs(
        spark.createDataFrame([(S2_SCENE,)], "data string"),
        spark.createDataFrame([(HLS_SCENE,)], "data string"),
    )
    prow = pairs.collect()
    assert len(prow) == 1  # same epoch week (2023-03-15 / doy 074)
    assert prow[0]["s2_scene"] == S2_SCENE
    assert prow[0]["hls_scene"] == HLS_SCENE

    tensors = build_pair_tensors(pairs, s2_rasters, hls_rasters)
    trow = tensors.collect()
    assert len(trow) == 1
    assert len(trow[0]["hr_bands"]) == 4 and len(trow[0]["hr_bands"][0]) == 144
    assert len(trow[0]["lr_bands"]) == 4 and len(trow[0]["lr_bands"][0]) == 16

    # stage 4: diagonal centerline mask; compat bounds keep r=c in 4..7
    mask_px = [0.0] * 144
    for i in range(12):
        mask_px[i * 12 + i] = 1.0
    mask = spark.createDataFrame(
        [(1, 12, 12, mask_px)],
        "mask_id long, height int, width int, pixels array<double>",
    )
    crops = build_crop_dataset(
        tensors, mask, CropConfig(batch_size=6, scale=3, compat=True)
    )
    rows = crops.collect()
    centers = sorted((r["center_r"], r["center_c"]) for r in rows)
    assert centers == [(4, 4), (5, 5), (6, 6), (7, 7)]
    for r in rows:
        assert len(r["hr_pixels"]) == 4 and all(len(b) == 36 for b in r["hr_pixels"])
        assert len(r["lr_pixels"]) == 4 and all(len(b) == 4 for b in r["lr_pixels"])
        assert r["hr_size"] == 6 and r["lr_size"] == 2
