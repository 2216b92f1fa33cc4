"""Crop-engine correctness vs a NumPy oracle.

The oracle below reimplements the studied behavior of the reference's
``little_pair`` (data_pair/fct_data_extraction.py:29-157) — including
the as-built quirks (count-based bounds, mixed inf denominator, row/col
band purge, mutating-list cursor walk) — on FIXTURES.md-shaped synthetic
rasters (batch=12, scale=3, pct=0.7, HR 60x60, LR 20x20, planted
zero/-9999/inf contamination; a batch-100 case for near-border
truncated windows). The JVM-side building blocks must agree on
candidate sets, per-candidate quality flags and exact crop pixels;
``build_crop_dataset``'s per-pair Arrow kernel must agree on kept
centers (greedy walk, seeded shuffle, grid) and exact survivor pixels.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sentinel_landsat_database_creation_spark.operators.crops import (
    NODATA,
    candidate_centers,
    quality_flag,
    slice_crop_pairs,
    suppress_overlap_grid,
)
from sentinel_landsat_database_creation_spark.plans.satellite import (
    CropConfig,
    build_crop_dataset,
)
from sentinel_landsat_database_creation_spark.schemas import CROP_PAIR_SCHEMA

BATCH, SCALE, PCT = 12, 3, 0.7
HR_N, LR_N = 60, 20
N_BANDS = 4


# ---------------------------------------------------------------------------
# fixtures


def _hr() -> np.ndarray:
    b, r, c = np.meshgrid(
        np.arange(N_BANDS), np.arange(HR_N), np.arange(HR_N), indexing="ij"
    )
    hr = (((b + 1) * 1000 + r * HR_N + c) % 997) / 997.0 + 0.001
    hr = hr.astype(np.float32)
    hr[0, 18:29, 12:23] = 0.0  # zero patch: fails >=99% nonzero nearby
    hr[1, 40:45, 40:45] = np.inf  # inf patch: fails <=1% inf nearby
    return hr


def _lr() -> np.ndarray:
    b, r, c = np.meshgrid(
        np.arange(N_BANDS), np.arange(LR_N), np.arange(LR_N), indexing="ij"
    )
    lr = (((b + 2) * 500 + r * LR_N + c) % 499) / 499.0 + 0.001
    lr = lr.astype(np.float32)
    lr[2, 5:8, 10:13] = NODATA  # nodata patch: fails <=1% -9999 nearby
    return lr


def _mask() -> np.ndarray:
    m = np.zeros((HR_N, HR_N), dtype=np.int32)
    for r in range(3, 55):  # diagonal-ish centerline, some near-border
        m[r, min(r + (r % 3), HR_N - 1)] = 1
    m[2, 2] = 1  # must be rejected by the bounds filter
    return m


# ---------------------------------------------------------------------------
# NumPy oracle (reference semantics, compat quirks included)


def oracle_candidates(mask: np.ndarray):
    r_tmp, c_tmp = np.where(mask == 1)
    half = BATCH // 2
    upper_c = len(c_tmp) - 1 - half
    upper_r = len(r_tmp) - 1 - half
    out = []
    for i in range(len(r_tmp)):
        if (
            r_tmp[i] > half
            and c_tmp[i] > half
            and r_tmp[i] < upper_r
            and c_tmp[i] < upper_c
        ):
            out.append((int(r_tmp[i]), int(c_tmp[i])))
    return out


def oracle_quality(hr: np.ndarray, lr: np.ndarray, rr: int, cc: int) -> bool:
    half = BATCH // 2
    r1, r2, c1, c2 = rr - half, rr + half, cc - half, cc + half
    crop1 = hr[:, r1:r2, c1:c2]
    crop2 = lr[:, r1 // SCALE : r2 // SCALE, c1 // SCALE : c2 // SCALE]
    n = N_BANDS
    b, bs = BATCH, BATCH // SCALE
    pz1 = np.count_nonzero(crop1) * 100 / (b * b * n)
    pz2 = np.count_nonzero(crop2) * 100 / (bs * bs * n)
    p9 = np.sum(crop2 == NODATA) * 100 / (bs * bs * n)
    pinf = np.sum(np.isinf(crop1)) * 100 / (bs * b * n)  # as-built mix
    return bool(pz1 >= 99 and pz2 >= 99 and p9 <= 1 and pinf <= 1)


def oracle_walk(cands, ok_fn, overlap=True):
    r = [x[0] for x in cands]
    c = [x[1] for x in cands]
    kept = []
    i = -1
    while len(r) > 0:
        i += 1
        rr, cc = r[i], c[i]
        if ok_fn(rr, cc):
            kept.append((rr, cc))
            if overlap:
                a = rr + BATCH * PCT
                b = cc + BATCH * PCT
                keep = [not (a <= v <= b) for v in r]
                r = [v for v, k in zip(r, keep) if k]
                c = [v for v, k in zip(c, keep) if k]
                keep = [not (a <= v <= b) for v in c]
                r = [v for v, k in zip(r, keep) if k]
                c = [v for v, k in zip(c, keep) if k]
        if i >= len(r) - 1:
            break
    return kept


# ---------------------------------------------------------------------------
# Spark pipeline fixtures


def _mask_df(spark):
    return spark.createDataFrame(
        [("m1", HR_N, HR_N, [int(v) for v in _mask().ravel()])],
        "mask_id string, height int, width int, pixels array<int>",
    )


def _pairs_df(spark, pair_ids=(1,)):
    hr, lr = _hr(), _lr()
    return spark.createDataFrame(
        [
            (
                pid,
                [hr[i].ravel().tolist() for i in range(N_BANDS)],
                HR_N,
                [lr[i].ravel().tolist() for i in range(N_BANDS)],
                LR_N,
            )
            for pid in pair_ids
        ],
        "pair_id long, hr_bands array<array<float>>, hr_width int, "
        "lr_bands array<array<float>>, lr_width int",
    )


@pytest.fixture(scope="module")
def pipeline(spark):
    hr, lr, mask = _hr(), _lr(), _mask()
    mask_df = _mask_df(spark)
    pairs_df = _pairs_df(spark)
    centers = candidate_centers(mask_df, BATCH, compat_bounds=True)
    sliced = slice_crop_pairs(pairs_df, centers, BATCH, SCALE)
    flagged = sliced.withColumn(
        "ok", quality_flag(BATCH, SCALE, N_BANDS, compat=True)
    )
    return hr, lr, mask, flagged


def test_candidate_centers_match_oracle(pipeline, spark):
    hr, lr, mask, flagged = pipeline
    got = sorted(
        (r["r"], r["c"]) for r in flagged.select("r", "c").distinct().collect()
    )
    assert got == sorted(oracle_candidates(mask))


def test_quality_flags_match_oracle(pipeline):
    hr, lr, mask, flagged = pipeline
    rows = flagged.select("r", "c", "ok").collect()
    assert len(rows) > 0
    n_fail = sum(1 for r in rows if not r["ok"])
    assert 0 < n_fail < len(rows), "fixture must exercise both outcomes"
    for row in rows:
        assert row["ok"] == oracle_quality(hr, lr, row["r"], row["c"]), (
            row["r"],
            row["c"],
        )


def test_crop_pixels_exact(pipeline):
    hr, lr, mask, flagged = pipeline
    half = BATCH // 2
    for row in flagged.orderBy("ord").limit(5).collect():
        rr, cc = row["r"], row["c"]
        exp_hr = hr[:, rr - half : rr + half, cc - half : cc + half]
        got_hr = np.array(row["hr_crop"], dtype=np.float32).reshape(
            N_BANDS, BATCH, BATCH
        )
        assert np.array_equal(exp_hr, got_hr, equal_nan=True)
        r1, c1 = (rr - half) // SCALE, (cc - half) // SCALE
        s = BATCH // SCALE
        exp_lr = lr[:, r1 : r1 + s, c1 : c1 + s]
        got_lr = np.array(row["lr_crop"], dtype=np.float32).reshape(
            N_BANDS, s, s
        )
        assert np.array_equal(exp_lr, got_lr)


def _kernel_rows(spark, pairs=None, **cfg):
    """build_crop_dataset's rows keyed by (pair_id, r, c)."""
    df = build_crop_dataset(
        pairs if pairs is not None else _pairs_df(spark),
        _mask_df(spark),
        CropConfig(batch_size=BATCH, scale=SCALE, pct_overlap=PCT, **cfg),
    )
    return {(r["pair_id"], r["center_r"], r["center_c"]): r for r in df.collect()}


def _assert_pixels_exact(rows):
    """Every emitted crop equals the NumPy slice of the source rasters."""
    hr, lr = _hr(), _lr()
    half, s = BATCH // 2, BATCH // SCALE
    for (_, rr, cc), row in rows.items():
        r1, c1 = rr - half, cc - half
        exp_hr = hr[:, r1 : r1 + BATCH, c1 : c1 + BATCH]
        exp_lr = lr[:, r1 // SCALE : r1 // SCALE + s, c1 // SCALE : c1 // SCALE + s]
        for b in range(N_BANDS):
            assert np.array_equal(
                np.array(row["hr_pixels"][b], dtype=np.float32), exp_hr[b].ravel()
            )
            assert np.array_equal(
                np.array(row["lr_pixels"][b], dtype=np.float32), exp_lr[b].ravel()
            )
        assert row["hr_size"] == BATCH and row["lr_size"] == s


def test_build_crop_dataset_schema_is_crop_pair_schema(spark):
    df = build_crop_dataset(
        _pairs_df(spark), _mask_df(spark), CropConfig(batch_size=BATCH, scale=SCALE)
    )
    assert df.schema == CROP_PAIR_SCHEMA


def test_greedy_suppression_matches_oracle(spark):
    hr, lr, mask = _hr(), _lr(), _mask()
    rows = _kernel_rows(spark)
    expect = oracle_walk(
        oracle_candidates(mask), lambda r, c: oracle_quality(hr, lr, r, c)
    )
    assert sorted(rows) == sorted((1, r, c) for r, c in expect)
    assert len(rows) > 0
    _assert_pixels_exact(rows)


def test_greedy_no_overlap_keeps_all_passing(spark):
    hr, lr, mask = _hr(), _lr(), _mask()
    rows = _kernel_rows(spark, overlap=False)
    cands = oracle_candidates(mask)
    expect = oracle_walk(
        cands, lambda r, c: oracle_quality(hr, lr, r, c), overlap=False
    )
    assert sorted(rows) == sorted((1, r, c) for r, c in expect)
    # no suppression: exactly the quality-passing candidates
    assert len(expect) == sum(oracle_quality(hr, lr, r, c) for r, c in cands)
    _assert_pixels_exact(rows)


def test_grid_suppression_properties(pipeline):
    hr, lr, mask, flagged = pipeline
    kept = suppress_overlap_grid(flagged, BATCH, PCT)
    rows = [(r["r"], r["c"]) for r in kept.collect()]
    assert len(rows) > 0
    stride = int(BATCH * PCT)
    cells = {(r // stride, c // stride) for r, c in rows}
    assert len(cells) == len(rows), "one survivor per grid cell"
    for r, c in rows:
        assert oracle_quality(hr, lr, r, c)


def test_shuffle_variant_deterministic(spark):
    """The seeded walk runs over RandomState((seed + pair_id) % 2**32)'s
    permutation of the ord-sorted candidates — the same crops however
    the pair rows are partitioned (negative xxhash64-style ids too)."""
    hr, lr, mask = _hr(), _lr(), _mask()
    pids = (1, 2, 3, -7)
    cands = oracle_candidates(mask)
    expect = set()
    for pid in pids:
        perm = np.random.RandomState((42 + pid) % 2**32).permutation(len(cands))
        walked = oracle_walk(
            [cands[k] for k in perm], lambda r, c: oracle_quality(hr, lr, r, c)
        )
        expect |= {(pid, r, c) for r, c in walked}
    ordered = oracle_walk(cands, lambda r, c: oracle_quality(hr, lr, r, c))
    assert {(r, c) for p, r, c in expect if p == 1} != set(ordered)
    pairs = _pairs_df(spark, pids)
    for parted in (pairs.coalesce(1), pairs.repartition(4)):
        rows = _kernel_rows(spark, parted, shuffle_seed=42)
        assert set(rows) == expect and len(rows) == len(expect)
        _assert_pixels_exact(rows)


def test_native_grid_matches_two_phase_building_blocks(spark):
    """compat=False: geometric bounds, the HR-count inf denominator and
    the minimum (r, c) per stride cell — the same crops the JVM-side
    slice_crop_pairs + quality_flag + suppress_overlap_grid produce."""
    pairs = _pairs_df(spark, (1, 5))
    centers = candidate_centers(_mask_df(spark), BATCH, compat_bounds=False)
    flagged = slice_crop_pairs(pairs, centers, BATCH, SCALE).withColumn(
        "ok", quality_flag(BATCH, SCALE, N_BANDS, compat=False)
    )
    expect = {
        (r["pair_id"], r["r"], r["c"])
        for r in suppress_overlap_grid(flagged, BATCH, PCT).collect()
    }
    rows = _kernel_rows(spark, pairs, compat=False)
    assert set(rows) == expect and len(rows) > 0
    assert flagged.filter(~F.col("ok")).count() > 0
    _assert_pixels_exact(rows)


def test_truncated_windows_match_slice2d(spark):
    """Compat bounds let windows leave the frame; slice2d drops the rows
    past the bottom and clamps the right edge. At batch 100 a window
    missing one row or one column still passes the fixed-denominator
    gate (99%), so the kernel must count AND emit exactly the present
    cells, row-major — as the JVM-side slice + quality_flag do."""
    b, n = 100, 104
    rng = np.random.default_rng(7)
    hr = rng.uniform(0.5, 1.5, (N_BANDS, n, n)).astype(np.float32)
    m = np.zeros((n, n), dtype=int)
    m[0:2, :] = 1  # 208 points: compat upper bound 157, all fail r > 50
    for r, c in ((52, 52), (55, 52), (52, 55), (55, 55)):
        m[r, c] = 1
    mask = spark.createDataFrame(
        [(1, n, n, [int(v) for v in m.ravel()])],
        "mask_id int, height int, width int, pixels array<int>",
    )
    bands = [hr[i].ravel().tolist() for i in range(N_BANDS)]
    pairs = spark.createDataFrame(
        [(9, bands, n, bands, n)],
        "pair_id long, hr_bands array<array<float>>, hr_width int, "
        "lr_bands array<array<float>>, lr_width int",
    )
    flagged = slice_crop_pairs(
        pairs, candidate_centers(mask, b, compat_bounds=True), b, 1
    ).withColumn("ok", quality_flag(b, 1, N_BANDS, compat=True))
    expect = {
        (r["r"], r["c"]): r["hr_crop"] for r in flagged.filter("ok").collect()
    }
    assert set(expect) == {(52, 52), (55, 52), (52, 55)}
    got = build_crop_dataset(
        pairs, mask, CropConfig(batch_size=b, scale=1, overlap=False)
    ).collect()
    assert {(r["center_r"], r["center_c"]) for r in got} == set(expect)
    for r in got:
        r1, c1 = r["center_r"] - b // 2, r["center_c"] - b // 2
        for k in range(N_BANDS):
            want = hr[k, r1 : r1 + b, c1 : c1 + b].ravel()
            assert np.array_equal(np.array(r["hr_pixels"][k], np.float32), want)
            assert r["hr_pixels"][k] == expect[(r["center_r"], r["center_c"])][k]
            assert r["lr_pixels"][k] == r["hr_pixels"][k]


def test_mask_keyed_pairs_do_not_leak_centers(spark):
    """Two masks, two pairs keyed by mask_id: each pair must meet ONLY
    its own mask's centers (VERDICT r1 item 5 — unkeyed, a second mask
    handed every pair the union of all centers)."""
    # mask A: centerline at row 4; mask B: centerline at column 5
    import numpy as np

    def mask_pixels(kind):
        m = np.zeros((HR_N, HR_N), dtype=int)
        if kind == "row":
            m[20, 10:50] = 1
        else:
            m[10:50, 25] = 1
        return [int(v) for v in m.ravel()]

    masks = spark.createDataFrame(
        [
            ("mA", HR_N, HR_N, mask_pixels("row")),
            ("mB", HR_N, HR_N, mask_pixels("col")),
        ],
        "mask_id string, height int, width int, pixels array<int>",
    )
    hr, lr = _hr(), _lr()
    pairs = spark.createDataFrame(
        [
            (
                1,
                "mA",
                [hr[i].ravel().tolist() for i in range(N_BANDS)],
                HR_N,
                [lr[i].ravel().tolist() for i in range(N_BANDS)],
                LR_N,
            ),
            (
                2,
                "mB",
                [hr[i].ravel().tolist() for i in range(N_BANDS)],
                HR_N,
                [lr[i].ravel().tolist() for i in range(N_BANDS)],
                LR_N,
            ),
        ],
        "pair_id long, mask_id string, hr_bands array<array<float>>, "
        "hr_width int, lr_bands array<array<float>>, lr_width int",
    )
    centers = candidate_centers(masks, BATCH, compat_bounds=False)
    by_mask = {
        mid: {(r["r"], r["c"]) for r in rows}
        for mid, rows in (
            ("mA", centers.filter(centers.mask_id == "mA").collect()),
            ("mB", centers.filter(centers.mask_id == "mB").collect()),
        )
    }
    assert by_mask["mA"] and by_mask["mB"] and by_mask["mA"] != by_mask["mB"]

    sliced = slice_crop_pairs(pairs, centers, BATCH, SCALE)
    got = {
        pid: {(r["r"], r["c"]) for r in rows}
        for pid, rows in (
            (1, sliced.filter(sliced.pair_id == 1).collect()),
            (2, sliced.filter(sliced.pair_id == 2).collect()),
        )
    }
    assert got[1] == by_mask["mA"], "pair 1 must see only mask A centers"
    assert got[2] == by_mask["mB"], "pair 2 must see only mask B centers"
    # build_crop_dataset's kernel keys centers the same way
    crops = build_crop_dataset(
        pairs, masks, CropConfig(batch_size=BATCH, scale=SCALE, compat=False)
    ).collect()
    for pid, mid in ((1, "mA"), (2, "mB")):
        kept = {(r["center_r"], r["center_c"]) for r in crops if r["pair_id"] == pid}
        assert kept and kept <= by_mask[mid], pid
