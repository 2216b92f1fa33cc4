"""Band filter + decode plumbing + channel stacking (SURVEY.md ops
10/11/42, FIXTURES.md §3: distractor .xml and extra-band files must be
dropped; channel order must be deterministic)."""

from __future__ import annotations

import hashlib

import pytest
from fake_decode import decode_fake

from sentinel_landsat_database_creation_spark.operators.stacking import (
    LANDSAT_BANDS,
    SENTINEL_BANDS,
    filter_band_files,
    stack_bands,
)

SCENES = [
    "HLS.L30.T46RCT.2023001T042927.v2.0",
    "HLS.L30.T46RCT.2023009T042923.v2.0",
]


@pytest.fixture(scope="module")
def band_files(spark):
    rows = []
    for s in SCENES:
        for b in LANDSAT_BANDS:
            rows.append((s, f"{s}.{b}.tif"))
        rows.append((s, f"{s}.B06.tif"))  # extra-band distractor
        rows.append((s, f"{s}.B02.xml"))  # xml distractor
    return spark.createDataFrame(rows, "scene string, filename string")


def test_band_filter_drops_distractors(band_files):
    kept = filter_band_files(band_files, LANDSAT_BANDS)
    rows = kept.select("scene", "filename", "band", "band_rank").collect()
    assert len(rows) == len(SCENES) * 4
    assert all(not r["filename"].endswith(".xml") for r in rows)
    assert all(r["band"] in LANDSAT_BANDS for r in rows)
    ranks = {r["band"]: r["band_rank"] for r in rows}
    assert ranks == {"B02": 1, "B03": 2, "B04": 3, "B05": 4}


def test_sentinel_band_tokens_not_confused(spark):
    # S2 names use B2 not B02; match must be delimiter-aware.
    rows = [("s2scene", f"T46RCT_20230104T044201_{b}.tif") for b in ("B2", "B3", "B4", "B8", "B11")]
    df = spark.createDataFrame(rows, "scene string, filename string")
    kept = filter_band_files(df, SENTINEL_BANDS)
    got = sorted(r["band"] for r in kept.collect())
    assert got == ["B2", "B3", "B4", "B8"]


def test_decode_and_stack(band_files):
    kept = filter_band_files(band_files, LANDSAT_BANDS)
    decoded = decode_fake(kept, height=20, width=20)
    with_rank = decoded.join(
        kept.select("scene", "band", "band_rank"), ["scene", "band"]
    )
    stacked = stack_bands(with_rank)
    rows = {r["scene"]: r for r in stacked.collect()}
    assert set(rows) == set(SCENES)
    for s, r in rows.items():
        assert (r["height"], r["width"]) == (20, 20)
        assert len(r["bands"]) == 4
        assert all(len(b) == 400 for b in r["bands"])
        # channel 0 must be B02's deterministic pixels
        seed = int.from_bytes(
            hashlib.md5(f"{s}/B02".encode()).digest()[:4], "big"
        )
        expect0 = ((seed + 2654435761 * 0) % 1000) / 1000.0 + 0.001
        assert abs(r["bands"][0][0] - expect0) < 1e-6


def test_stack_drops_incomplete_scene(spark):
    rows = [("sceneX", b, 1, 2, 2, [0.1, 0.2, 0.3, 0.4]) for b in ["B02"]]
    df = spark.createDataFrame(
        rows,
        "scene string, band string, band_rank int, height int, width int, "
        "pixels array<float>",
    )
    assert stack_bands(df).count() == 0
