"""Seeded input generators and independent output references.

Every workload input is a pure function of (seed, workload, shard): the
same seed writes byte-identical shards, a different seed different
ones (the ``*_digest`` functions hash a shard's inputs). References are computed here with NumPy and
plain Python from the generated arrays and texts, never with the
engine's operators, so a wrong answer from the engine cannot also be
the expected answer.

Sizes are module constants; ``SIZES`` gathers them for the run artifact.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np

WORKLOAD_IDS = {"scene_ingest": 1, "corpus_curation": 3}


def rng_for(seed: int, workload: str, shard: int) -> np.random.Generator:
    return np.random.default_rng([seed, WORKLOAD_IDS[workload], shard])


def _digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, np.ndarray):
            h.update(np.ascontiguousarray(p).tobytes())
        else:
            h.update(repr(p).encode())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# scene_ingest: encoded GeoTIFF trees for both sensors

SCENE = {
    "weeks": 4,
    "s2_per_week": 2,  # pairing fan-out: s2_per_week * hls_per_week pairs/week
    "hls_per_week": 2,
    "hr": 96,  # S2 raster side; HLS side is hr // scale
    "scale": 3,
    "batch": 12,
    "pct": 0.7,
    "codecs": (None, "lzw", "deflate"),
    "mask_segments": 3,  # sparse centerline: a few straight strokes
    "mask_length": 60,  # columns per stroke: 3 x 61 = 183 centres per pair
}
S2_BANDS = ("B2", "B3", "B4", "B8")
HLS_BANDS = ("B02", "B03", "B04", "B05")
DECOY_BAND = "QA"  # one quality-assessment raster per scene the filter drops
_GRID_FIRST_THURSDAY = dt.date(2022, 12, 29)


def _s2_name(day: dt.date, secs: int) -> str:
    t = f"{day:%Y%m%d}T{secs // 3600:02d}{secs // 60 % 60:02d}{secs % 60:02d}"
    return f"{t}_{t}_T46RCT"


def _hls_name(day: dt.date, secs: int) -> str:
    doy = day.timetuple().tm_yday
    t = f"{secs // 3600:02d}{secs // 60 % 60:02d}{secs % 60:02d}"
    return f"HLS.L30.T46RCT.{day.year}{doy:03d}T{t}.v2.0"


def _scene_pixels(rng, side: int, hr: bool) -> np.ndarray:
    """4 bands of positive integer-valued float32 pixels with one planted
    defect: a zero patch in an HR band, a -9999 nodata patch in an LR
    band, so some crops fail the quality gate on each side."""
    px = rng.integers(1, 200, size=(4, side, side)).astype(np.float32)
    b = int(rng.integers(0, 4))
    if hr:
        r, c = rng.integers(0, side - 8, size=2)
        px[b, r : r + 8, c : c + 8] = 0.0
    else:
        r, c = rng.integers(0, side - 2, size=2)
        px[b, r : r + 2, c : c + 2] = -9999.0
    return px


def _stroke_mask(rng, side: int, segments: int, length: int, margin: int) -> np.ndarray:
    """A sparse centerline of ``segments`` straight strokes, each one
    pixel per column over ``length + 1`` columns, in its own band of
    rows and clear of the border, climbing or falling ``rise`` rows, so
    every seed gets the same number of in-bounds centres covering about
    the same number of suppression cells; only their places vary."""
    mask = np.zeros((side, side), dtype=np.float32)
    band = (side - 2 * margin) // segments
    rise = band // 2
    for k in range(segments):
        lo = margin + k * band
        r0 = int(rng.integers(lo, lo + band - rise))
        r0, r1 = (r0, r0 + rise) if rng.integers(0, 2) else (r0 + rise, r0)
        c0 = int(rng.integers(margin, side - margin - length))
        rr = np.round(np.linspace(r0, r1, length + 1)).astype(int)
        mask[rr, np.arange(c0, c0 + length + 1)] = 1.0
    return mask


def scene_shard(seed: int, shard: int) -> dict:
    """Scene lists, band rasters, codec per scene and the crop mask."""
    p = SCENE
    rng = rng_for(seed, "scene_ingest", shard)
    first_week = int(rng.integers(1, 52 - p["weeks"]))
    s2, hls = [], []
    for w in range(p["weeks"]):
        start = _GRID_FIRST_THURSDAY + dt.timedelta(weeks=first_week + w)
        for names, n, fmt in (
            (s2, p["s2_per_week"], _s2_name),
            (hls, p["hls_per_week"], _hls_name),
        ):
            days = rng.choice(7, size=n, replace=False)
            secs = rng.choice(86400, size=n, replace=False)
            for d, s in zip(days, secs):
                names.append((fmt(start + dt.timedelta(days=int(d)), int(s)), w))
    lr = p["hr"] // p["scale"]
    rasters = {}
    for name, _w in s2:
        rasters[name] = _scene_pixels(rng, p["hr"], hr=True)
    for name, _w in hls:
        rasters[name] = _scene_pixels(rng, lr, hr=False)
    scenes = [n for n, _ in s2] + [n for n, _ in hls]
    offset = int(rng.integers(0, 3))
    codec = {n: p["codecs"][(i + offset) % 3] for i, n in enumerate(scenes)}
    mask = _stroke_mask(rng, p["hr"], p["mask_segments"], p["mask_length"],
                        p["batch"] // 2 + 1)
    return {"s2": s2, "hls": hls, "rasters": rasters, "codec": codec, "mask": mask}


def scene_digest(sh: dict) -> str:
    names = sorted(sh["rasters"])
    return _digest(
        sh["s2"], sh["hls"], [sh["codec"][n] for n in names], sh["mask"],
        *[sh["rasters"][n] for n in names],
    )


def _windows(px: np.ndarray, size: int) -> np.ndarray:
    """All size x size windows of a (bands, H, W) stack, NumPy slicing
    semantics at the far edges (the stack is padded with NaN, which the
    counts below treat as 'no pixel')."""
    b, h, w = px.shape
    pad = np.full((b, h + size, w + size), np.nan, dtype=np.float64)
    pad[:, :h, :w] = px
    return np.lib.stride_tricks.sliding_window_view(pad, (size, size), axis=(1, 2))


def crop_stats(hr, lr, rs, cs, batch, scale):
    """Per-candidate quality counts and per-band pixel digests for the
    crops at centres (rs, cs): HR window [r-b/2, r+b/2), LR window at the
    same corner // scale, both truncated at the raster edge."""
    half = batch // 2
    ls = batch // scale
    r0, c0 = rs - half, cs - half
    hw = _windows(hr, batch)[:, r0, c0]  # (bands, n, b, b)
    lw = _windows(lr, ls)[:, r0 // scale, c0 // scale]
    have_h, have_l = ~np.isnan(hw), ~np.isnan(lw)
    inf_h = np.isinf(hw)
    out = {
        "nz_hr": ((hw != 0) & have_h).sum(axis=(0, 2, 3)),
        "nz_lr": ((lw != 0) & have_l).sum(axis=(0, 2, 3)),
        "nine_lr": (lw == -9999.0).sum(axis=(0, 2, 3)),
        "inf_hr": inf_h.sum(axis=(0, 2, 3)),
        # per-band digests: sum of finite pixels
        "hr_sum": np.where(have_h & ~inf_h, hw, 0.0).sum(axis=(2, 3)).T,
        "lr_sum": np.where(have_l & ~np.isinf(lw), lw, 0.0).sum(axis=(2, 3)).T,
    }
    return out


def quality_ok(st, batch, scale, n_bands=4):
    """The reference's acceptance predicate as integer counts: >= 99%
    nonzero on both sides, <= 1% nodata (LR) and <= 1% inf (HR)."""
    hr_px = batch * batch * n_bands
    lr_px = (batch // scale) ** 2 * n_bands
    return (
        (st["nz_hr"] * 100 >= 99 * hr_px)
        & (st["nz_lr"] * 100 >= 99 * lr_px)
        & (st["nine_lr"] * 100 <= lr_px)
        & (st["inf_hr"] * 100 <= hr_px)
    )


_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5, _M = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5, (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 (the published algorithm), unsigned."""
    n, i = len(data), 0
    le = int.from_bytes
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            v = [_round(v[k], le(data[i + 8 * k : i + 8 * k + 8], "little")) for k in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, le(data[i : i + 8], "little")), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (le(data[i : i + 4], "little") * _P1 & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = _rotl(h ^ (data[i] * _P5 & _M), 11) * _P1 & _M
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M
    h = ((h ^ (h >> 29)) * _P3) & _M
    return h ^ (h >> 32)


def pair_id(s2: str, hls: str) -> int:
    """The pair key build_scene_pairs assigns: Spark's xxhash64 over the
    two catalog paths, seed 42, each column's hash seeding the next."""
    h = xxh64(f"S2/{s2}".encode(), 42)
    h = xxh64(f"L8/{hls}".encode(), h)
    return h - (1 << 64) if h >= 1 << 63 else h


def scene_reference(sh: dict) -> dict:
    """Pair set, per-scene band sums and the accepted crops (grid
    suppression: the minimum (r, c) per stride cell among quality-passing
    candidates) with their pixel digests."""
    p = SCENE
    b, s = p["batch"], p["scale"]
    half, side = b // 2, p["hr"]
    by_week: dict[int, list] = {}
    for name, w in sh["hls"]:
        by_week.setdefault(w, []).append(name)
    pairs = [(s2, h) for s2, w in sh["s2"] for h in by_week.get(w, [])]
    pts = np.argwhere(sh["mask"] == 1)
    rs, cs = pts[:, 0], pts[:, 1]
    inb = (rs > half) & (cs > half) & (rs < side - half) & (cs < side - half)
    rs, cs = rs[inb], cs[inb]
    stride = max(int(b * p["pct"]), 1)
    crops = {}
    for s2, h in pairs:
        st = crop_stats(sh["rasters"][s2], sh["rasters"][h], rs, cs, b, s)
        ok = quality_ok(st, b, s)
        best: dict[tuple, tuple] = {}
        for i in np.flatnonzero(ok):
            cell = (rs[i] // stride, cs[i] // stride)
            if cell not in best or (rs[i], cs[i]) < best[cell][:2]:
                best[cell] = (rs[i], cs[i], i)
        for r, c, i in best.values():
            crops[(pair_id(s2, h), int(r), int(c))] = (
                tuple(st["hr_sum"][i]) + tuple(st["lr_sum"][i])
            )
    stack = {
        n: tuple(float(x) for x in px.astype(np.float64).sum(axis=(1, 2)))
        for n, px in sh["rasters"].items()
    }
    return {
        "pairs": sorted(pairs),
        "crops": crops,
        "stack": stack,
        "candidates": len(pairs) * len(rs),
        "files": len(sh["rasters"]) * 5,
    }


# ---------------------------------------------------------------------------
# corpus_curation: documents with planted duplicates, embeddings with
# planted neighbours

CORPUS = {
    "docs": 400,  # base documents before planting
    "vocab": 5000,
    "min_len": 40,
    "max_len": 90,
    "exact_rate": 0.05,  # share of base docs copied verbatim
    "near_rate": 0.10,  # copied with two token substitutions
    "contain_rate": 0.05,  # a 20-token excerpt becomes its own document
    "excerpt": 20,
    "vectors": 480,
    "dim": 32,
    "groups": 20,  # planted neighbour groups of `group_size` vectors
    "group_size": 8,
    "noise": 0.01,
}
NGRAM, N_HASHES, BANDS = 2, 8, 4
NEAR_T, CONTAIN_T, SMALL_MAX = 0.7, 0.8, 30
TOPK, NPROBE = 10, 3
TRAIN_ITERS = 1  # Lloyd steps of both quantizers
NEAR_RECALL_FLOOR, ANN_RECALL_FLOOR = 0.9, 0.9


def corpus_shard(seed: int, shard: int) -> dict:
    p = CORPUS
    rng = rng_for(seed, "corpus_curation", shard)
    base = (shard + 1) * 1_000_000
    toks = [
        rng.integers(0, p["vocab"], size=int(rng.integers(p["min_len"], p["max_len"])))
        for _ in range(p["docs"])
    ]
    texts = [" ".join(f"w{t}" for t in d) for d in toks]
    ids = [base + i for i in range(p["docs"])]
    planted = {"exact": [], "near": [], "contain": []}
    nxt = base + p["docs"]
    n = p["docs"]
    for kind, rate in (
        ("exact", p["exact_rate"]),
        ("near", p["near_rate"]),
        ("contain", p["contain_rate"]),
    ):
        for src in rng.choice(n, size=int(n * rate), replace=False):
            d = toks[src].copy()
            if kind == "near":
                pos = rng.choice(len(d), size=2, replace=False)
                d[pos] = rng.integers(p["vocab"], 2 * p["vocab"], size=2)
            elif kind == "contain":
                start = int(rng.integers(0, len(d) - p["excerpt"]))
                d = d[start : start + p["excerpt"]]
            texts.append(" ".join(f"w{t}" for t in d))
            ids.append(nxt)
            planted[kind].append((ids[src], nxt))
            nxt += 1
    order = rng.permutation(len(ids))
    ids = [ids[i] for i in order]
    texts = [texts[i] for i in order]

    # vector ids run from 0: the coarse trainer seeds on the first ids,
    # so the planted groups sit at the end of the id range
    d, nv = p["dim"], p["vectors"]
    vecs = rng.normal(size=(nv, d)) / np.sqrt(d)
    groups = []
    first = nv - p["groups"] * p["group_size"]
    for g in range(p["groups"]):
        rows = first + np.arange(g * p["group_size"], (g + 1) * p["group_size"])
        vecs[rows] = vecs[rows[0]] + rng.normal(scale=p["noise"], size=(len(rows), d))
        groups.append(rows)
    vecs = vecs.astype(np.float32)
    return {
        "doc_ids": np.array(ids, dtype=np.int64),
        "texts": texts,
        "planted": planted,
        "vec_ids": np.arange(nv, dtype=np.int64),
        "vecs": vecs,
        "groups": groups,
    }


def corpus_digest(sh: dict) -> str:
    return _digest(sh["doc_ids"], sh["texts"], sh["vec_ids"], sh["vecs"])


def shingle_set(text: str) -> frozenset:
    t = text.split(" ")
    return frozenset(zip(t, t[1:]))


def corpus_reference(sh: dict) -> dict:
    """Exact-dedup survivors (min id per identical text), shingle sets for
    scoring any reported pair, the planted pairs that must be recovered,
    and each ANN query's planted neighbours."""
    first: dict[str, int] = {}
    for i, t in zip(sh["doc_ids"].tolist(), sh["texts"]):
        if t not in first or i < first[t]:
            first[t] = i
    survivors = set(first.values())
    text_of = dict(zip(sh["doc_ids"].tolist(), sh["texts"]))
    sets = {i: shingle_set(text_of[i]) for i in survivors}
    near = [(a, b) for a, b in sh["planted"]["near"] if a in survivors and b in survivors]
    contain = [
        (a, b)
        for a, b in sh["planted"]["contain"]
        if a in survivors and b in survivors and len(sets[b]) <= SMALL_MAX
    ]
    queries = {int(g[0]): set(int(x) for x in g[1:]) for g in sh["groups"]}
    return {
        "survivors": survivors,
        "sets": sets,
        "near": near,
        "contain": contain,
        "queries": queries,
        "docs": len(sh["doc_ids"]),
    }


SIZES = {"scene_ingest": SCENE, "corpus_curation": CORPUS}


def write_parquet(table, path: str) -> None:
    """Write an Arrow table as one Parquet file under ``path``."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    f = os.path.join(path, "part-0.parquet")
    pq.write_table(table, f)
