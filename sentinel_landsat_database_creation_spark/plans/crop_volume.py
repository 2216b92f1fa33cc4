"""Stage-4 crop engine at volume (VERDICT r3 item 5).

The reference's actual hot loop is E4: ~117,195 crops from dense
centerline masks (reference main_code.py:51, fct_data_extraction.py:
29-157). The registry's `crop_pipeline` proves correctness on an 8x8
fixture; this module drives `plans.satellite.build_crop_dataset` at the
reference's real volume — ~1e5 candidate (center x pair) crops — so the
E4 path has a recorded per-round bench number like every other query.

The fixture is GENERATED, not read: mask and band tensors are pure
integer-arithmetic functions of (pair, band, pixel index), expressed as
native Spark expressions here and re-derived independently by the
DuckDB oracle from the same closed-form spec — no file handoff, so the
oracle checks the entire slice/quality/suppression computation, not a
Spark-written artifact. Contamination (zeros, -9999 nodata, inf) is
planted at ~1/600 cell rates, which puts every quality-gate branch on
both sides of its threshold across the corpus.

Scale shape: tensors are n_pairs rows (each carrying its flattened
band arrays — the E3 handoff shape) and the centers are collected once
on the driver. The native entry runs build_crop_dataset's per-pair
Arrow kernel (slice, quality gate, grid suppression and survivor
payload in one mapInArrow; exact DuckDB oracle); the greedy entry runs
the same NumPy gather/count helpers in a metadata-out Arrow stage
followed by the faithful per-pair walk over metadata rows only.
tests/test_plans.py pins both Python boundaries from the executed
plan. At 100 TB the same plan holds: pairs partition freely, per-pair
state is bounded by one mask's center list.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.arrays import count_nonzero, sum_over_bands
from ..operators.crops import collected_centers
from .satellite import CropConfig, build_crop_dataset

BATCH = 12
SCALE = 3
PCT = 0.7  # stride int(12*0.7) = 8


def params_for(sf_dir: str) -> dict:
    """Fixture sizing by scale factor: the driver's correctness gate
    (sf0.01) gets a ~1k-crop fixture the DuckDB oracle re-derives in
    well under a second; bench (sf0.1) gets the reference-anchored
    volume (~103k candidate crops ~= the 117k reference run)."""
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.01
    if sf >= 0.5:  # scale-up probe (scripts/bench_scale.py): 10x bench.
        # memo=False: 280 pairs x ~2.3 MB of generated bands is ~650 MB
        # of checkpoint blocks — materializing that in the deliberate
        # 1 GB heap OOMs the JVM (measured, r5). At this tier the
        # tensors regenerate per consuming phase instead: linear extra
        # compute, O(TENSOR_SLOTS x one pair) memory — the same trade a
        # real deployment makes by reading tensors from parquet rather
        # than pinning them in executor storage.
        return {"n_pairs": 280, "hrw": 256, "lrw": 85, "memo": False}
    if sf >= 0.05:
        return {"n_pairs": 28, "hrw": 256, "lrw": 85}
    return {"n_pairs": 6, "hrw": 64, "lrw": 21}


def _val(pid: Column, b: Column, i: Column) -> Column:
    """Deterministic cell value, identical closed form in the oracle:
    h = (pid*7919 + b*104729 + i*1299709) % 104723, then
    h%601==0 -> 0.0 | h%599==1 -> -9999.0 | h%593==2 -> inf |
    else (h%1000+1)/10 (strictly positive). All-integer up to the final
    division, so cross-engine exact."""
    h = (
        pid * F.lit(7919) + b * F.lit(104729) + i * F.lit(1299709)
    ) % F.lit(104723)
    return (
        F.when(h % 601 == 0, F.lit(0.0))
        .when(h % 599 == 1, F.lit(-9999.0))
        .when(h % 593 == 2, F.lit(float("inf")))
        .otherwise((h % 1000 + 1) / F.lit(10.0))
    )


def _bands(pid: Column, b0: int, n_bands: int, n_px: int) -> Column:
    return F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(n_bands - 1).cast("long")),
        lambda b: F.transform(
            F.sequence(F.lit(0).cast("long"), F.lit(n_px - 1).cast("long")),
            lambda i: _val(pid, b + F.lit(b0), i),
        ),
    )


def volume_mask(spark: SparkSession, width: int) -> DataFrame:
    """One dense centerline mask (the reference's as-built shape: a
    single fixed mask shared by every pair, fct_data_extraction.py:50):
    pixel==1 where (r*31 + c*17) % 16 == 0 — 1/16 density spread over
    the whole raster, ~4k centerline points at 256x256."""
    return spark.range(1).select(
        F.lit(1).alias("mask_id"),
        F.lit(width).alias("height"),
        F.lit(width).alias("width"),
        F.transform(
            F.sequence(
                F.lit(0).cast("long"), F.lit(width * width - 1).cast("long")
            ),
            lambda q: F.when(
                (
                    (q / F.lit(width)).cast("long") * 31
                    + (q % F.lit(width)) * 17
                )
                % 16
                == 0,
                F.lit(1.0),
            ).otherwise(F.lit(0.0)),
        ).alias("pixels"),
    )


# Concurrent-task cap for the tensor stages: each pair task's working
# set is ~10-20 MB (band generation + one pair's windows), and the bench
# session runs a deliberate 1 GB heap that may already hold hundreds of
# MB of memoized checkpoint blocks from earlier registry queries.
# 28-32 concurrent pair tasks OOMed the WARM session (measured, r4);
# 8 slots run the same 103k-crop volume in the same wall time (16.7 s
# warm vs 16.4 s cold at 28 tasks — per-pair codegen throughput, not
# slot count, is the bottleneck). This is the local[32] expression of
# "size partitions so the working set fits executor memory"
# (session.py); a real cluster tunes executor memory instead.
TENSOR_SLOTS = 8


def volume_tensors(
    spark: SparkSession,
    n_pairs: int,
    hrw: int,
    lrw: int,
    slices: int | None = None,
) -> DataFrame:
    """n_pairs scene-pair tensor rows in build_pair_tensors' output
    shape: 4 HR bands (hrw x hrw) and 4 LR bands (lrw x lrw), flattened
    row-major. LR bands use band indices 4..7 so HR and LR cells draw
    from disjoint value streams. Generated in TENSOR_SLOTS slices so
    every downstream narrow stage (generation, slicing, quality) runs
    at most that many concurrent heavy tasks — no shuffle involved.
    ``slices`` overrides the split count when the consumer's unit of
    work is the PARTITION rather than the row (the Arrow kernels bound
    their input batch bytes this way)."""
    pid = F.col("id")
    if slices is None:
        slices = min(TENSOR_SLOTS, n_pairs)
    return spark.range(0, n_pairs, 1, min(slices, n_pairs)).select(
        pid.alias("pair_id"),
        _bands(pid, 0, 4, hrw * hrw).alias("hr_bands"),
        F.lit(hrw).alias("hr_width"),
        _bands(pid, 4, 4, lrw * lrw).alias("lr_bands"),
        F.lit(lrw).alias("lr_width"),
    )


def _fixture_tensors(spark: SparkSession, p: dict) -> DataFrame:
    """The fixture's pair tensors, materialized once per session and
    shared by both volume entries (~230 MB of evictable MEMORY_AND_DISK
    blocks at sf0.1). The scale tier regenerates them instead (see
    params_for), in <= 4-row slices so each Arrow input batch of the
    per-pair kernels stays a few payloads (~9 MB)."""
    from ..memo import checkpoint_memo

    n, hrw, lrw = p["n_pairs"], p["hrw"], p["lrw"]
    if not p.get("memo", True):
        return volume_tensors(spark, n, hrw, lrw, slices=-(-n // 4))
    return checkpoint_memo(
        spark.range(1),
        ("crop_volume_tensors", n, hrw, lrw),
        lambda: volume_tensors(spark, n, hrw, lrw),
    )


def crop_volume_dataset(
    spark: SparkSession, sf_dir: str, compat: bool
) -> DataFrame:
    p = params_for(sf_dir)
    cfg = CropConfig(
        batch_size=BATCH, scale=SCALE, pct_overlap=PCT, compat=compat
    )
    return build_crop_dataset(
        _fixture_tensors(spark, p), volume_mask(spark, p["hrw"]), cfg
    )


def _summarize(crops: DataFrame) -> DataFrame:
    """Per-pair integer summary: crop count, center-coordinate sums, and
    the total HR nonzero-cell count over survivors (ties the PIXEL
    payloads into the hash, not just which centers survived)."""
    nz = sum_over_bands(F.col("hr_pixels"), count_nonzero)
    return _summarize_meta(
        crops.select(
            "pair_id",
            F.col("center_r").alias("r"),
            F.col("center_c").alias("c"),
            nz.alias("nz_hr"),
        )
    )


def q_crop_volume(spark: SparkSession, sf: str) -> DataFrame:
    """E4 at volume, native mode (grid suppression): exact DuckDB
    oracle re-derives mask, tensors, slices, quality, and suppression
    from the closed-form fixture spec."""
    return _summarize(crop_volume_dataset(spark, sf, compat=False))


def _greedy_candidate_meta_arrow(
    tensors: DataFrame, centers: list, batch_size: int, scale: int
) -> DataFrame:
    """Phase 1 of the compat volume pipeline as ONE NumPy mapInArrow
    stage (r14): per candidate crop, the quality flag and the HR nonzero
    count, emitted as METADATA rows (pair_id, ord, r, c, ok, nz_hr) —
    ~30 B/row. The band payload crosses ONCE per pair row into NumPy and
    all candidates of a pair are gated by build_crop_dataset's gather
    and count (operators/crops.py:gate_windows — slice2d's edge
    truncation, valid cells only, quality_gate's fixed denominators;
    exact integer counts over the bit-identical Arrow-transported
    values). No second slicing pass: nz_hr rides the metadata into the
    walk. It replaced the higher-order-function slicing that
    materialized both crop arrays per candidate (4.17 -> 1.32 s warm at
    sf0.1, OPTIMIZATION_r14.md).

    Arrow direct-memory budget (the r13 VERDICT's explicit condition;
    same arena math as plans/scene_volume.py): one in-flight input
    batch per concurrent task, batch = one tensor partition. At sf0.1
    the memoized frame is TENSOR_SLOTS=8 partitions x ~4 rows x
    ~2.3 MB/row ≈ 9 MB/batch -> ≤ 8 x ~9 MB in flight plus the
    per-task netty arena (32 MB chunks), well inside the 1 GB default
    direct cap. The no-memo scale tier generates ceil(n_pairs/4)
    slices for the same ≤4-row bound (_fixture_tensors)."""
    from ..operators.crops import band_rows, gate_windows

    half = batch_size // 2

    def run(batches):
        import numpy as np
        import pyarrow as pa

        o, r, c = np.array(centers, dtype=np.int64).reshape(-1, 3).T
        r0, c0, cache = r - half, c - half, {}
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            pids = batch.column("pair_id").to_pylist()
            hrw = batch.column("hr_width").to_pylist()
            lrw = batch.column("lr_width").to_pylist()
            hr, lr = (band_rows(batch.column(f)) for f in ("hr_bands", "lr_bands"))
            ok, nz = zip(*(
                gate_windows(hr[i], lr[i], hrw[i], lrw[i], r0, c0,
                             batch_size, scale, True, cache, None)[:2]
                for i in range(n)
            ))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(np.array(pids, dtype=np.int64), len(r))),
                    pa.array(np.tile(o, n), type=pa.int64()),
                    pa.array(np.tile(r, n), type=pa.int32()),
                    pa.array(np.tile(c, n), type=pa.int32()),
                    pa.array(np.concatenate(ok), type=pa.bool_()),
                    pa.array(np.concatenate(nz), type=pa.int64()),
                ],
                names=["pair_id", "ord", "r", "c", "ok", "nz_hr"],
            )

    return tensors.select(
        "pair_id", "hr_bands", "hr_width", "lr_bands", "lr_width"
    ).mapInArrow(run, "pair_id long, ord long, r int, c int, ok boolean, nz_hr long")


def _greedy_kept_meta(
    meta: DataFrame, batch_size: int, pct: float
) -> DataFrame:
    """The faithful per-pair greedy walk (operators/crops.py:
    _greedy_walk — the walk build_crop_dataset's kernel runs) over
    the Arrow stage's metadata rows, CARRYING nz_hr through, so no
    second slicing pass (and no join back to a re-evaluated subtree)
    is needed to summarize survivors. Python sees ~30 B/candidate —
    the boundary discipline test_plans pins."""
    import pandas as pd

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from ..operators.crops import _greedy_walk

    schema = StructType(
        [
            StructField("pair_id", LongType(), False),
            StructField("r", IntegerType(), False),
            StructField("c", IntegerType(), False),
            StructField("nz_hr", LongType(), False),
        ]
    )

    def walk(key, pdf):
        pdf = pdf.sort_values("ord")
        kept = _greedy_walk(
            list(zip(pdf["r"], pdf["c"], pdf["ok"])),
            batch_size,
            pct,
            overlap=True,
        )
        nz = {(r, c): z for r, c, z in zip(pdf["r"], pdf["c"], pdf["nz_hr"])}
        return pd.DataFrame(
            {
                "pair_id": [key[0]] * len(kept),
                "r": [k[0] for k in kept],
                "c": [k[1] for k in kept],
                "nz_hr": [nz[k] for k in kept],
            }
        )

    return meta.groupBy("pair_id").applyInPandas(walk, schema)


def _summarize_meta(kept: DataFrame) -> DataFrame:
    """Per-pair (n_crops, sum_r, sum_c, nz_hr_total) over (pair_id, r, c,
    nz_hr) survivor rows — the summary both volume entries hash."""
    return (
        kept.groupBy("pair_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_crops"),
            F.sum("r").cast("long").alias("sum_r"),
            F.sum("c").cast("long").alias("sum_c"),
            F.sum("nz_hr").cast("long").alias("nz_hr_total"),
        )
        .select(
            F.col("pair_id").cast("long").alias("pair_id"),
            "n_crops",
            "sum_r",
            "sum_c",
            "nz_hr_total",
        )
        .orderBy("pair_id")
    )


def greedy_volume_meta_dataset(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The compat (greedy) volume pipeline on the r14 Arrow metadata
    path: memoized tensors -> one mapInArrow candidate-stats stage ->
    per-pair greedy walk (metadata only) -> summary. Result identical
    to the retired HOF shape (oracle SQL_CROP_VOLUME_GREEDY unchanged;
    A/B exceptAll proven empty both ways at sf0.01 and sf0.1)."""
    p = params_for(sf_dir)
    return _greedy_summary(_fixture_tensors(spark, p), volume_mask(spark, p["hrw"]))


def _greedy_summary(tensors: DataFrame, mask: DataFrame) -> DataFrame:
    (centers,) = collected_centers(mask, BATCH).values()
    meta = _greedy_candidate_meta_arrow(tensors, centers, BATCH, SCALE)
    return _summarize_meta(_greedy_kept_meta(meta, BATCH, PCT))


def q_crop_volume_greedy(spark: SparkSession, sf: str) -> DataFrame:
    """E4 at volume, compat mode: the reference's sequential greedy
    walk per pair (applyInPandas over centers only). The
    order-dependent mutating-list semantics are not expressible as
    plain relational SQL, but at the driver's sf0.01 fixture scale
    (6 pairs x ~200 candidates) the walk IS expressible as a DuckDB
    RECURSIVE CTE carrying (cursor, surviving-list, kept-list) state —
    SQL_CROP_VOLUME_GREEDY below — which seals this entry with a full
    rows+schema+hash oracle (the same move that closed stream_sessions
    in round 4). The walk is additionally pinned by seed/order unit
    tests (tests/test_crop_engine.py) and its native twin
    `crop_volume`.

    r14 (optimization round 2, entry in the checked prefix): executes
    on the Arrow metadata path (greedy_volume_meta_dataset) — same
    walk kernel, same oracle, results proven identical to the retired
    higher-order-function slicing shape."""
    return greedy_volume_meta_dataset(spark, sf)


# Oracle for the native path, GENERATED from the fixture parameters so
# the same closed form can check any tier (round-5 VERDICT item 3: the
# 10x scale probe now hash-verifies results, scripts/verify_scale.py).
# The driver compares the sf0.01 instantiation (params_for: 6 pairs,
# 64x64 HR, 21x21 LR; batch 12 -> half 6, lr 4x4, stride 8), which also
# proves the generator. Every stage of the Spark plan is re-derived:
# centerline + geometric bounds, per-crop contamination counts from the
# closed-form value spec (a value is zero iff h%601==0, nodata iff
# not-zero and h%599==1, inf iff not-zero, not-nodata and h%593==2 —
# the when-chain's precedence), the integer-exact quality gate, and
# min-(r,c)-per-cell grid suppression.
def scale_oracle_sql(n_pairs: int, hrw: int, lrw: int) -> str:
    half = BATCH // 2
    lb = BATCH // SCALE  # LR crop edge
    # quality-gate denominators are over b*b*n pixels, n = 4 bands
    # (SURVEY §2 op 14; reference fct_data_extraction.py:129-134) — a
    # first cut of this generator used BATCH*BATCH and the 10x hash
    # check (scripts/verify_scale.py) caught the drift immediately,
    # which is exactly the gate round-5 VERDICT item 3 asked for
    bb = 4 * BATCH * BATCH  # HR denominator (576 at batch 12)
    ll = 4 * lb * lb  # LR denominator (64)
    stride = int(BATCH * PCT)
    return f"""
WITH centers AS (
  SELECT p // {hrw} AS r, p % {hrw} AS c
  FROM (SELECT unnest(range(0, {hrw * hrw})) AS p)
  WHERE ((p // {hrw})*31 + (p % {hrw})*17) % 16 = 0
    AND p // {hrw} > {half} AND p % {hrw} > {half} AND p // {hrw} < {hrw - half} AND p % {hrw} < {hrw - half}
),
pairs AS (SELECT unnest(range(0, {n_pairs})) AS pid),
hro AS (SELECT b, rr, cc FROM range(0, 4) t1(b), range(0, {BATCH}) t2(rr), range(0, {BATCH}) t3(cc)),
lro AS (SELECT b, rr, cc FROM range(4, 8) t1(b), range(0, {lb}) t2(rr), range(0, {lb}) t3(cc)),
hstat AS (
  SELECT pid, r, c,
         count(*) FILTER (WHERE h % 601 = 0) AS zero_hr,
         count(*) FILTER (WHERE h % 601 != 0 AND h % 599 != 1 AND h % 593 = 2) AS inf_hr
  FROM (
    SELECT pid, r, c,
           (pid*7919 + b*104729 + ((r-{half}+rr)*{hrw} + (c-{half}+cc))*1299709) % 104723 AS h
    FROM pairs, centers, hro
  )
  GROUP BY pid, r, c
),
lstat AS (
  SELECT pid, r, c,
         count(*) FILTER (WHERE h % 601 = 0) AS zero_lr,
         count(*) FILTER (WHERE h % 601 != 0 AND h % 599 = 1) AS nine_lr
  FROM (
    SELECT pid, r, c,
           (pid*7919 + b*104729 + (((r-{half})//{SCALE} + rr)*{lrw} + ((c-{half})//{SCALE} + cc))*1299709) % 104723 AS h
    FROM pairs, centers, lro
  )
  GROUP BY pid, r, c
),
flagged AS (
  SELECT h.pid, h.r, h.c, {bb} - h.zero_hr AS nz_hr
  FROM hstat h JOIN lstat l ON h.pid = l.pid AND h.r = l.r AND h.c = l.c
  WHERE ({bb} - h.zero_hr)*100 >= 99*{bb}
    AND ({ll} - l.zero_lr)*100 >= 99*{ll}
    AND l.nine_lr*100 <= {ll}
    AND h.inf_hr*100 <= {bb}
),
kept AS (
  SELECT pid, r, c, nz_hr,
         row_number() OVER (PARTITION BY pid, r // {stride}, c // {stride} ORDER BY r, c) AS rn
  FROM flagged
)
SELECT CAST(pid AS BIGINT) AS pair_id,
       CAST(count(*) AS BIGINT) AS n_crops,
       CAST(sum(r) AS BIGINT) AS sum_r,
       CAST(sum(c) AS BIGINT) AS sum_c,
       CAST(sum(nz_hr) AS BIGINT) AS nz_hr_total
FROM kept WHERE rn = 1
GROUP BY pid ORDER BY pair_id
"""


SQL_CROP_VOLUME = scale_oracle_sql(6, 64, 21)


# Oracle for the COMPAT (greedy-walk) path at the sf0.01 fixture
# (round-5 VERDICT item 2). Differences from SQL_CROP_VOLUME:
#
# - compat bounds (op 13 as-built): the upper limits come from the
#   centerline COUNT (256 points -> 256-1-6 = 249), not the raster
#   dims, so edge centers up to r,c = 63 survive the bounds filter and
#   their windows leave the 64x64 frame. slice2d truncates those like
#   NumPy (rows past the bottom vanish, columns clamp at the right
#   edge), so hstat/lstat count only PRESENT cells (the 2-D bounds in
#   their WHERE) while the quality denominators stay fixed at
#   576/64/192 — truncated crops fail the gate exactly as the
#   reference's short NumPy slices do.
# - compat inf denominator (op 14 as-built): (b//s)*b*n = 4*12*4 = 192.
# - suppression is the reference's sequential mutating-list walk
#   (fct_data_extraction.py:90-157), expressed as a recursive CTE: one
#   recursion step per while-iteration, state = (surviving candidate
#   list in np.where `ord` order, cursor i, kept list). An accepted
#   center purges every candidate whose r OR c falls in
#   [rr + 12*0.7, cc + 12*0.7]; since candidates are integers and the
#   band edges 12*0.7 ~ 8.4 are strictly between 8 and 9 for any IEEE
#   rounding, the float interval is restated exactly as
#   [rr + 9, cc + 8]. The cursor is a plain position into the mutating
#   list (removals before it shift elements under it, as-built), and
#   the loop exits when the cursor passes the tail — the recursive
#   part's WHERE i < len(lst) - 1. The terminal state per pair is the
#   one with the largest cursor (max_by).
#
# GENERATOR (round-6 VERDICT item 4): parameterized over n_pairs ONLY
# — the raster dims stay the driver fixture's 64/21 because the
# recursion state is quadratic in the PER-PAIR candidate count (the
# 256px tier's ~4000 candidates exceed any SQL engine's useful
# evaluation range), while pair count is the axis the operator
# actually scales along at 100 TB (pairs partition freely; per-pair
# candidates are bounded by mask density BY DESIGN). The sf0.01
# instantiation below is the driver oracle; scripts/verify_scale.py
# instantiates n_pairs=60 against the same-shape 10x-pair fixture
# (greedy_scale_twin).
def greedy_oracle_sql(n_pairs: int) -> str:
    return f"""
WITH RECURSIVE
centers AS (
  SELECT p // 64 AS r, p % 64 AS c, p AS ord
  FROM (SELECT unnest(range(0, 4096)) AS p)
  WHERE ((p // 64)*31 + (p % 64)*17) % 16 = 0
    AND p // 64 > 6 AND p % 64 > 6 AND p // 64 < 249 AND p % 64 < 249
),
pairs AS (SELECT unnest(range(0, {n_pairs})) AS pid),
hro AS (SELECT b, rr, cc FROM range(0, 4) t1(b), range(0, 12) t2(rr), range(0, 12) t3(cc)),
lro AS (SELECT b, rr, cc FROM range(4, 8) t1(b), range(0, 4) t2(rr), range(0, 4) t3(cc)),
hstat AS (
  SELECT pid, r, c,
         count(*) AS pres_hr,
         count(*) FILTER (WHERE h % 601 = 0) AS zero_hr,
         count(*) FILTER (WHERE h % 601 != 0 AND h % 599 != 1 AND h % 593 = 2) AS inf_hr
  FROM (
    SELECT pid, r, c,
           (pid*7919 + b*104729 + ((r-6+rr)*64 + (c-6+cc))*1299709) % 104723 AS h
    FROM pairs, centers, hro
    WHERE r-6+rr < 64 AND c-6+cc < 64
  )
  GROUP BY pid, r, c
),
lstat AS (
  SELECT pid, r, c,
         count(*) AS pres_lr,
         count(*) FILTER (WHERE h % 601 = 0) AS zero_lr,
         count(*) FILTER (WHERE h % 601 != 0 AND h % 599 = 1) AS nine_lr
  FROM (
    SELECT pid, r, c,
           (pid*7919 + b*104729 + (((r-6)//3 + rr)*21 + ((c-6)//3 + cc))*1299709) % 104723 AS h
    FROM pairs, centers, lro
    WHERE (r-6)//3 + rr < 21 AND (c-6)//3 + cc < 21
  )
  GROUP BY pid, r, c
),
flagged AS (
  SELECT h.pid, h.r, h.c, cen.ord, h.pres_hr - h.zero_hr AS nz_hr,
         ((h.pres_hr - h.zero_hr)*100 >= 99*576
          AND (l.pres_lr - l.zero_lr)*100 >= 99*64
          AND l.nine_lr*100 <= 64
          AND h.inf_hr*100 <= 192) AS ok
  FROM hstat h
  JOIN lstat l ON h.pid = l.pid AND h.r = l.r AND h.c = l.c
  JOIN centers cen ON h.r = cen.r AND h.c = cen.c
),
cand AS (
  SELECT pid,
         list(struct_pack(r := r, c := c, ok := ok) ORDER BY ord) AS lst
  FROM flagged GROUP BY pid
),
walk AS (
  SELECT pid, lst, CAST(-1 AS BIGINT) AS i,
         CAST([] AS STRUCT(r BIGINT, c BIGINT)[]) AS kept
  FROM cand
  UNION ALL
  SELECT pid,
         CASE WHEN cur.ok THEN
           list_filter(lst, x ->
             NOT (x.r >= cur.r + 9 AND x.r <= cur.c + 8)
             AND NOT (x.c >= cur.r + 9 AND x.c <= cur.c + 8))
         ELSE lst END,
         i1,
         CASE WHEN cur.ok
              THEN list_append(kept, struct_pack(r := cur.r, c := cur.c))
              ELSE kept END
  FROM (
    SELECT pid, lst, kept, i + 1 AS i1, lst[CAST(i + 2 AS INTEGER)] AS cur
    FROM walk
    WHERE i < len(lst) - 1
  )
),
final AS (
  SELECT pid, max_by(kept, i) AS kept FROM walk GROUP BY pid
),
surv AS (
  SELECT pid, u.r, u.c
  FROM final, unnest(kept) t(u)
)
SELECT CAST(s.pid AS BIGINT) AS pair_id,
       CAST(count(*) AS BIGINT) AS n_crops,
       CAST(sum(s.r) AS BIGINT) AS sum_r,
       CAST(sum(s.c) AS BIGINT) AS sum_c,
       CAST(sum(f.nz_hr) AS BIGINT) AS nz_hr_total
FROM surv s
JOIN flagged f ON f.pid = s.pid AND f.r = s.r AND f.c = s.c
GROUP BY s.pid ORDER BY pair_id
"""


SQL_CROP_VOLUME_GREEDY = greedy_oracle_sql(6)


def greedy_scale_twin(spark: SparkSession, n_pairs: int = 60) -> DataFrame:
    """The greedy walk's at-scale correctness twin (round-6 VERDICT
    item 4): the SAME compat pipeline (tensors -> slices -> quality ->
    sequential per-pair greedy walk -> summary) over the driver
    fixture's raster shape with 10x the PAIR count — the axis the
    operator scales along in production (pairs partition freely;
    per-pair candidate count is bounded by mask density by design, so
    it does not grow with corpus size). Checked by
    scripts/verify_scale.py against greedy_oracle_sql(n_pairs); the
    candidate-count axis stays sealed at sf0.01 where the recursive
    oracle's quadratic state is tractable.

    r14: runs the Arrow metadata path — the twin must prove the code
    the registry entry actually executes, so it moved together with
    q_crop_volume_greedy (same walk kernel, same summary shape)."""
    p = {"n_pairs": n_pairs, "hrw": 64, "lrw": 21, "memo": False}
    return _greedy_summary(_fixture_tensors(spark, p), volume_mask(spark, 64))
