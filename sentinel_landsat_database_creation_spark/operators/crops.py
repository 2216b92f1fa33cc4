"""Stage 4 — the crop engine (reference E4, SURVEY.md §2 ops 13/14/20/26/
33/34/35/43/44).

The reference's ``little_pair`` walks a centerline mask sequentially,
slicing aligned HR/LR crops and filtering them by data-quality
percentages (data_pair/fct_data_extraction.py:29-157). Stage 4 has no
cross-pair dependency, so it runs as ONE per-pair Arrow kernel
(``crop_pairs``): the mask's candidate centers are collected once on
the driver, and each pair row crosses into NumPy once to be sliced,
quality-gated, overlap-suppressed and emitted as survivor rows.

  mask -> candidate centers (posexplode + bounds filter)     [op 35+13]
       x pair row -> per-band HR/LR windows (one gather)     [ops 43/44/20]
       -> quality gate (integer-exact counts)                [ops 14/26]
       -> overlap suppression: compat greedy walk or native
          grid-cell minimum                                  [ops 33/34]
       -> survivor payload rows (CROP_PAIR_SCHEMA)

The JVM-side building blocks (``slice_crop_pairs``, ``quality_flag``,
``suppress_overlap_grid``) express the same semantics as Spark
expressions for the registry's small crop entries.

Compat quirks reproduced exactly (flagged, never silently):
- bounds filter upper limits come from the COUNT of centerline points,
  not the raster dims (fct_data_extraction.py:62-64);
- the inf-percentage denominator mixes LR height with HR width
  (fct_data_extraction.py:133);
- greedy no_overlap uses a = r + batch*pct and b = c + batch*pct, and
  purges rows-in-[a,b] then cols-in-[a,b] in two passes over the
  mutating candidate list (fct_data_extraction.py:75-88,143-150); the
  walk advances one index per iteration over that mutating list and
  stops when the cursor passes the tail (:153-155).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.arrays import (
    count_equal,
    count_inf,
    count_nonzero,
    slice2d,
    sum_over_bands,
)

from .._serde import register_self

register_self(__name__)

NODATA = -9999.0


def candidate_centers(
    mask: DataFrame, batch_size: int, compat_bounds: bool = True
) -> DataFrame:
    """Ops 35+13: centerline pixels == 1, bounds-filtered, in np.where
    row-major order (column ``ord`` preserves it for the greedy walk).

    compat_bounds=True reproduces the reference's as-built upper limits
    (count of the mask row's centerline points,
    fct_data_extraction.py:62-64); False uses the geometrically-correct
    raster dims.
    """
    half = batch_size // 2
    keep = ["mask_id", "height", "width"] + (["n_pts"] if compat_bounds else [])
    if compat_bounds:
        # The centerline count is a per-mask-row array count, taken in
        # its own projection so it runs once per mask row, not once per
        # exploded pixel (Generate inlines the expressions above it).
        mask = mask.select(
            "mask_id",
            "height",
            "width",
            "pixels",
            F.size(F.filter("pixels", lambda v: v == 1)).alias("n_pts"),
        )
    pts = mask.select(*keep, F.posexplode("pixels").alias("p", "v")).filter(
        F.col("v") == 1
    )
    pts = pts.select(
        *keep,
        (F.col("p") / F.col("width")).cast("int").alias("r"),
        (F.col("p") % F.col("width")).cast("int").alias("c"),
        F.col("p").alias("ord"),
    )
    if compat_bounds:
        upper = F.col("n_pts") - 1 - half
        bounded = pts.filter(
            (F.col("r") > half)
            & (F.col("c") > half)
            & (F.col("r") < upper)
            & (F.col("c") < upper)
        ).drop("n_pts")
    else:
        bounded = pts.filter(
            (F.col("r") > half)
            & (F.col("c") > half)
            & (F.col("r") < F.col("height") - half)
            & (F.col("c") < F.col("width") - half)
        )
    return bounded.drop("height", "width")


def collected_centers(
    mask: DataFrame, batch_size: int, compat_bounds: bool = True
) -> dict:
    """``candidate_centers`` collected to the driver as {mask_id: [(ord,
    r, c), ...] in np.where order} — the input of the per-pair Arrow
    kernels. Bounded by the masks' centerlines BY DESIGN (~4k rows at a
    256x256 dense mask), never by corpus size. The rows sort on the
    driver: ``ord`` is the unique pixel index, so (mask_id, ord) is a
    total order, and a Spark ``orderBy`` would cost a sampling job and
    a range shuffle for a list this small."""
    out: dict = {}
    rows = candidate_centers(mask, batch_size, compat_bounds)
    for m, o, r, c in sorted(
        tuple(row) for row in rows.select("mask_id", "ord", "r", "c").collect()
    ):
        out.setdefault(m, []).append((int(o), int(r), int(c)))
    return out


def slice_crop_pairs(
    pairs: DataFrame,
    centers: DataFrame,
    batch_size: int,
    scale: int,
    centers_per_chunk: int = 512,
) -> DataFrame:
    """Ops 20/43/44: for every (scene pair x candidate center), slice the
    HR crop at [r±b/2, c±b/2] and the LR crop at the same coords // scale.

    ``pairs`` carries one row per scene pair: (pair_id, hr_bands,
    hr_width, lr_bands, lr_width) with bands as arrays of flattened
    row-major float arrays. The scale precondition (hr_w // lr_w ==
    scale, the reference's assert at :91) becomes a validation filter.

    Center matching, in precedence order: a ``pair_id`` column on
    ``centers`` keys each pair to exactly its own center list (the
    survivor-slicing second pass); else a ``mask_id`` column on
    ``pairs`` keys pairs to their mask's centers (broadcast equi-join —
    without the key a second mask would silently hand every pair the
    union of all masks' centers); else every pair shares the one
    centerline mask — the reference's as-built shape
    (fct_data_extraction.py:50,61 loads a single fixed mask).

    Output ``mask_id`` provenance in the by-pair branch: the centers'
    own ``mask_id`` if they carry one, else the pair row's, else the
    literal 1 (the single-shared-mask convention's id) when neither
    side knows a mask.

    Join shape, measured (round 4, volume fixture: 28 pairs x 256x256x4
    rasters x ~3.9k centers): a row-level join of pair rows against the
    centers TABLE is wrong at volume — every joined output row copies
    the pair's full band payload (~8 MB), ~900 GB of row-copy churn at
    1e5 crops, which OOMed a 1g heap before any crop was sliced. So the
    centers attach as ONE collected array per mask (broadcast; bounded
    by a single mask's centerline, metadata-scale), each pair row
    explodes into ceil(n/512)-center chunks (the only stage that copies
    band bytes — per chunk, not per center), and the slices evaluate
    inside a transform over the chunk, emitting only (ord, r, c,
    crops) structs (~5 KB). Per-task peak = one band payload + one
    chunk's crops; the 117k-crop fixture runs in the same 1g heap with
    headroom."""
    half = batch_size // 2
    lr_size = batch_size // scale
    valid = pairs.filter(
        (F.col("hr_width") / F.col("lr_width")).cast("int") == scale
    )
    ctr = F.struct(
        F.col("ord").alias("ord"), F.col("r").alias("r"), F.col("c").alias("c")
    )
    by_pair = "pair_id" in centers.columns
    if by_pair:
        if "mask_id" in centers.columns:
            # centers' own mask_id wins (they know which mask produced
            # each center list)
            packed = centers.groupBy("pair_id").agg(
                F.collect_list(ctr).alias("ctrs"),
                F.min("mask_id").alias("mask_id"),
            )
            grid = valid.drop("mask_id").join(F.broadcast(packed), "pair_id")
        elif "mask_id" in pairs.columns:
            # centers carry no mask_id: the pair's own mask_id survives
            # instead of being overwritten with a fabricated constant
            # (round-4 ADVICE — build_crop_dataset discards mask_id, but
            # other callers passing pair_id-keyed centers expect theirs)
            packed = centers.groupBy("pair_id").agg(
                F.collect_list(ctr).alias("ctrs")
            )
            grid = valid.join(F.broadcast(packed), "pair_id")
        else:
            # neither side knows a mask: fabricate the documented
            # placeholder (the single-shared-mask convention's id)
            packed = centers.groupBy("pair_id").agg(
                F.collect_list(ctr).alias("ctrs"),
                F.min(F.lit(1)).alias("mask_id"),
            )
            grid = valid.join(F.broadcast(packed), "pair_id")
    else:
        packed = centers.groupBy("mask_id").agg(
            F.collect_list(ctr).alias("ctrs")
        )
        if "mask_id" in pairs.columns:
            grid = valid.join(F.broadcast(packed), "mask_id")
        else:
            # single shared mask (or the union of all masks, each
            # keeping its id — the old row-level cross join's semantics)
            grid = valid.crossJoin(F.broadcast(packed))

    keep = ["pair_id", "mask_id"]
    n_chunks = F.ceil(F.size("ctrs") / F.lit(centers_per_chunk)).cast("int")
    chunked = grid.filter(F.size("ctrs") > 0).select(
        *keep,
        "hr_bands",
        "hr_width",
        "lr_bands",
        "lr_width",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda k: F.slice(
                    F.col("ctrs"),
                    k * centers_per_chunk + 1,
                    centers_per_chunk,
                ),
            )
        ).alias("chunk"),
    )

    def crop_struct(one: Column) -> Column:
        r0 = one["r"] - half
        c0 = one["c"] - half
        hr = F.transform(
            F.col("hr_bands"),
            lambda b: slice2d(
                b,
                F.col("hr_width"),
                r0,
                c0,
                F.lit(batch_size),
                F.lit(batch_size),
            ),
        )
        lr_r0 = (r0 / scale).cast("int")
        lr_c0 = (c0 / scale).cast("int")
        lr = F.transform(
            F.col("lr_bands"),
            lambda b: slice2d(
                b, F.col("lr_width"), lr_r0, lr_c0, F.lit(lr_size), F.lit(lr_size)
            ),
        )
        return F.struct(
            one["ord"].alias("ord"),
            one["r"].alias("r"),
            one["c"].alias("c"),
            hr.alias("hr_crop"),
            lr.alias("lr_crop"),
        )

    return chunked.select(
        "pair_id",
        "mask_id",
        F.explode(F.transform("chunk", crop_struct)).alias("cr"),
    ).select(
        "pair_id",
        "mask_id",
        F.col("cr.ord").alias("ord"),
        F.col("cr.r").alias("r"),
        F.col("cr.c").alias("c"),
        F.col("cr.hr_crop").alias("hr_crop"),
        F.col("cr.lr_crop").alias("lr_crop"),
    )


def quality_gate(
    nz_hr, inf_hr, nz_lr, nine_lr, batch_size: int, scale: int,
    n_bands: int = 4, compat: bool = True,
):
    """Op 14's acceptance predicate over per-crop cell counts (Spark
    Columns or NumPy arrays alike — the one definition both engines
    use). Denominators are fixed at b*b*n (HR) and (b/s)^2*n (LR);
    compat=True reproduces the as-built inf denominator (LR height x HR
    width x n, fct_data_extraction.py:133), False uses the HR pixel
    count. Percentages are restated as exact integer-count comparisons
    (count*100 >= 99*denom), so no float drift."""
    b, s = batch_size, scale
    hr_px = b * b * n_bands
    lr_px = (b // s) * (b // s) * n_bands
    inf_denom = (b // s) * b * n_bands if compat else hr_px
    return (
        (nz_hr * 100 >= 99 * hr_px)
        & (nz_lr * 100 >= 99 * lr_px)
        & (nine_lr * 100 <= lr_px)
        & (inf_hr * 100 <= inf_denom)
    )


def quality_flag(
    batch_size: int, scale: int, n_bands: int = 4, compat: bool = True
) -> Column:
    """Op 14 over (hr_crop, lr_crop) array columns: ``quality_gate`` on
    the JVM-side per-band counts."""
    return quality_gate(
        sum_over_bands(F.col("hr_crop"), count_nonzero),
        sum_over_bands(F.col("hr_crop"), count_inf),
        sum_over_bands(F.col("lr_crop"), count_nonzero),
        sum_over_bands(F.col("lr_crop"), lambda a: count_equal(a, NODATA)),
        batch_size,
        scale,
        n_bands,
        compat,
    )


# ---------------------------------------------------------------------------
# overlap suppression


def _greedy_walk(rows, batch_size: int, pct: float, overlap: bool):
    """Faithful reimplementation of the reference's mutating-list walk
    (fct_data_extraction.py:90-157): one cursor pass over the candidate
    list, purging row/col bands after each accepted crop. Operates on
    centers + precomputed quality flags only — pixels never enter Python.
    """
    r = [row[0] for row in rows]
    c = [row[1] for row in rows]
    ok = {(row[0], row[1]): row[2] for row in rows}
    kept = []
    i = -1
    while len(r) > 0:
        i += 1
        rr, cc = r[i], c[i]
        if ok[(rr, cc)]:
            kept.append((rr, cc))
            if overlap:
                a = rr + batch_size * pct
                b = cc + batch_size * pct
                keep = [not (a <= v <= b) for v in r]
                r = [v for v, k in zip(r, keep) if k]
                c = [v for v, k in zip(c, keep) if k]
                keep = [not (a <= v <= b) for v in c]
                r = [v for v, k in zip(r, keep) if k]
                c = [v for v, k in zip(c, keep) if k]
        if i >= len(r) - 1:
            break
    return kept


def _grid_keep(r, c, ok, stride: int):
    """suppress_overlap_grid within one pair: the minimum (r, c) of the
    quality-passing candidates per stride cell, in row-major cell order
    (adjacent crops compress ~2% better in Parquet than (r, c) order)."""
    import numpy as np

    sel = np.flatnonzero(ok)
    sel = sel[np.lexsort((c[sel], r[sel]))]
    cell = (r[sel] // stride) << 32 | c[sel] // stride
    _, first = np.unique(cell, return_index=True)
    return sel[first]


def _walk_keep(r, c, ok, seed, batch_size: int, pct: float, overlap: bool):
    """_greedy_walk within one pair over the ord-sorted candidates, or
    over RandomState(seed)'s permutation of them; the kept candidates'
    indices, in walk order."""
    import numpy as np

    n = len(r)
    order = np.arange(n) if seed is None else np.random.RandomState(seed).permutation(n)
    rows = zip(r[order].tolist(), c[order].tolist(), ok[order].tolist())
    at = {rc: k for k, rc in enumerate(zip(r.tolist(), c.tolist()))}
    kept = _greedy_walk(list(rows), batch_size, pct, overlap)
    return np.array([at[rc] for rc in kept], dtype=np.int64)


def suppress_overlap_grid(
    flagged: DataFrame, batch_size: int, pct: float, keep_payload: bool = False
) -> DataFrame:
    """Native-mode alternative to op 33: order-free grid-bucket dedup.
    Quality-passing centers bucket into stride-sized cells; the minimum
    (r, c) per cell survives. Set-based, deterministic, shuffle-friendly
    — the documented divergence from the sequential reference semantics.

    keep_payload=True returns the survivor's FULL input row (crop pixel
    columns included) via a per-cell row_number window instead of the
    groupBy-min + join-back the caller would otherwise need — one pass
    over the flagged rows, so the expensive slice/flag subtree isn't
    recomputed on the second side of a self-join (measured ~2x on the
    crop pipeline at sf0.1)."""
    from pyspark.sql.window import Window

    stride = max(int(batch_size * pct), 1)
    ok = flagged.filter(F.col("ok"))
    gr = (F.col("r") / stride).cast("int")
    gc = (F.col("c") / stride).cast("int")
    if keep_payload:
        w = Window.partitionBy(F.col("pair_id"), gr, gc).orderBy("r", "c")
        return (
            ok.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    cell = F.struct(gr.alias("gr"), gc.alias("gc"))
    return (
        ok.groupBy("pair_id", cell.alias("cell"))
        .agg(F.min(F.struct("r", "c")).alias("rc"))
        .select("pair_id", F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    )


# ---------------------------------------------------------------------------
# the per-pair Arrow kernel (NumPy; runs inside mapInArrow)


def window_index(r0, c0, size: int, width: int, n_px: int):
    """K windows of ``slice2d`` at once: flat gather indices (K, size,
    size) clipped into one band, and the mask of the cells slice2d
    keeps — columns past the right edge and cells past the end of the
    flattened band drop out, so a truncated window counts (and emits)
    only its present cells, row-major, exactly as slice2d does."""
    import numpy as np

    d = np.arange(size, dtype=np.int64)
    cols = c0[:, None] + d
    flat = (r0[:, None] + d)[:, :, None] * width + cols[:, None, :]
    valid = (cols < width)[:, None, :] & (flat < n_px)
    return np.clip(flat, 0, n_px - 1), valid


def window_counts(bands, idx, valid):
    """Per window: (nonzero, == NODATA, isinf) cell counts summed over
    the (n_bands, n_px) ``bands``, valid cells only — the NumPy twin of
    quality_flag's count_nonzero/count_equal/count_inf."""
    import numpy as np

    nz, nine, inf = (np.zeros(len(idx), dtype=np.int64) for _ in range(3))
    for band in bands:
        v = band[idx]
        nz += ((v != 0.0) & valid).sum(axis=(1, 2))
        nine += ((v == NODATA) & valid).sum(axis=(1, 2))
        inf += (np.isinf(v) & valid).sum(axis=(1, 2))
    return nz, nine, inf


def gate_windows(hr, lr, hrw, lrw, r0, c0, batch_size, scale, compat, cache, key):
    """One pair's candidates (HR window corners r0, c0) through the
    quality gate -> (ok, HR nonzero counts, (HR, LR) windows); every
    pair of one mask ``key`` and raster shape reuses ``cache``'s index."""
    wins = []
    for side, bands, width, rr, cc, size in (
        ("hr", hr, hrw, r0, c0, batch_size),
        ("lr", lr, lrw, r0 // scale, c0 // scale, batch_size // scale),
    ):
        k = (key, side, width, bands.shape[1])
        if k not in cache:
            cache[k] = window_index(rr, cc, size, width, bands.shape[1])
        wins.append(cache[k])
    nz_hr, _, inf_hr = window_counts(hr, *wins[0])
    nz_lr, nine_lr, _ = window_counts(lr, *wins[1])
    ok = quality_gate(nz_hr, inf_hr, nz_lr, nine_lr, batch_size, scale, compat=compat)
    return ok, nz_hr, wins


def band_rows(col):
    """Per row of a list<list<float>> Arrow column, its bands as one
    (n_bands, n_px) NumPy array (None for a row without cells)."""
    outer = col.offsets.to_numpy()
    bands = col.flatten()
    inner = bands.offsets.to_numpy()
    vals = bands.flatten().to_numpy(zero_copy_only=False)
    lo = inner[outer - outer[0]] - inner[0]
    return [
        vals[a:b].reshape(n, -1) if b > a else None
        for a, b, n in zip(lo[:-1], lo[1:], outer[1:] - outer[:-1])
    ]


def _payload(bands, idx, valid, keep, typ):
    """The kept windows' valid cells as a list<list<float>> Arrow array
    — one row per survivor, one slice2d-ordered crop per band."""
    import numpy as np
    import pyarrow as pa

    def offsets(lens):
        return pa.array(np.concatenate([[0], np.cumsum(lens)]), pa.int32())

    g = np.moveaxis(bands[:, idx[keep]], 0, 1)  # (survivors, bands, h, w)
    m = np.broadcast_to(valid[keep][:, None], g.shape)
    inner = pa.ListArray.from_arrays(
        offsets(m.sum(axis=(2, 3)).ravel()),
        pa.array(g[m].astype(np.float32)),
        type=typ.value_type,
    )
    return pa.ListArray.from_arrays(
        offsets(np.full(len(keep), len(bands))), inner, type=typ
    )


def crop_pairs(
    pair_tensors: DataFrame,
    centers: dict,
    batch_size: int,
    scale: int,
    pct: float,
    compat: bool = True,
    overlap: bool = True,
    shuffle_seed: int | None = None,
) -> DataFrame:
    """All of stage 4 as one mapInArrow over the pair tensors: each pair
    row crosses into NumPy ONCE and only its survivors' pixels come
    back, as CROP_PAIR_SCHEMA rows.

    ``pair_tensors`` carries (pair_id, hr_bands, hr_width, lr_bands,
    lr_width), bands as arrays of flattened row-major rasters; rows
    with int(hr_width / lr_width) != scale are dropped (the reference's
    assert at :91 as a validation filter). ``centers`` is
    ``collected_centers``' output. A ``mask_id`` column on the pairs
    keys each pair to its own mask's centers; without one every pair
    meets the distinct union of all masks' centers (the reference's
    single fixed mask, fct_data_extraction.py:50,61).

    Suppression: compat=True runs ``_greedy_walk`` over the candidates
    in ``ord`` order or, with ``shuffle_seed``, over the permutation
    ``RandomState((shuffle_seed + pair_id) % 2**32)`` draws of that
    ord-sorted list (fct_data_extraction_shuffle.py, made reproducible
    and independent of how rows arrive); compat=False keeps the minimum
    (r, c) per stride cell, as ``suppress_overlap_grid``.

    Arrow batch budget: one in-flight input batch (<= arrow.
    maxRecordsPerBatch rows of one partition) per concurrent task — size
    tensor partitions to a few pair payloads (crop_volume: <= 4 rows)."""
    from ..schemas import CROP_PAIR_SCHEMA

    half, stride = batch_size // 2, max(int(batch_size * pct), 1)
    keyed = "mask_id" in pair_tensors.columns
    if not keyed:
        centers = {None: sorted({x for v in centers.values() for x in v})}

    def run(batches):
        import numpy as np
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(CROP_PAIR_SCHEMA)
        cand = {  # mask -> (r, c) arrays in ord order
            m: np.array(v, dtype=np.int64).reshape(-1, 3).T[1:]
            for m, v in centers.items()
        }
        cache: dict = {}
        for batch in batches:
            col = batch.column
            ids = [col(f).to_pylist() for f in ("pair_id", "hr_width", "lr_width")]
            keys = col("mask_id").to_pylist() if keyed else [None] * batch.num_rows
            bands = [band_rows(col(f)) for f in ("hr_bands", "lr_bands")]
            for pid, hrw, lrw, key, hr, lr in zip(*ids, keys, *bands):
                if key not in cand or hr is None or lr is None or not (
                    hrw and lrw and int(hrw / lrw) == scale
                ):
                    continue
                r, c = cand[key]
                ok, _, (hw, lw) = gate_windows(hr, lr, hrw, lrw, r - half, c - half,
                                               batch_size, scale, compat, cache, key)
                if compat:
                    seed = None if shuffle_seed is None else (shuffle_seed + pid) % 2**32
                    keep = _walk_keep(r, c, ok, seed, batch_size, pct, overlap)
                else:
                    keep = _grid_keep(r, c, ok, stride)
                n = len(keep)
                if n == 0:
                    continue
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.full(n, pid, dtype=np.int64)),
                        pa.array(r[keep].astype(np.int32)),
                        pa.array(c[keep].astype(np.int32)),
                        _payload(hr, *hw, keep, schema.field("hr_pixels").type),
                        _payload(lr, *lw, keep, schema.field("lr_pixels").type),
                        pa.array(np.full(n, batch_size, dtype=np.int32)),
                        pa.array(np.full(n, batch_size // scale, dtype=np.int32)),
                    ],
                    schema=schema,
                )

    cols = ["pair_id", "hr_bands", "hr_width", "lr_bands", "lr_width"]
    keyed_cols = ["mask_id"] if keyed else []
    return pair_tensors.select(*cols, *keyed_cols).mapInArrow(run, CROP_PAIR_SCHEMA)
