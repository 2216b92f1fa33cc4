"""Streaming ANN over the PERSISTED IVFADC index: a query-vector
stream probes an ``ann_index_write`` layout (operators/ann_index.py)
and emits every indexed vector within an exact-BIGINT ADC radius —
the standing-index lifecycle's streaming completion (r13; the batch
probe is ann_index_probe).

Why RADIUS, not top-k: per-query top-k needs a per-qid ranking —
a window or grouped aggregate, which append-mode streaming either
forbids or turns into watermark state. Radius search is the
append-safe formulation (emit (qid, cid, adc) whenever adc <= r), and
it is the production shape for streaming candidate generation anyway:
a fixed quality bar per arriving query, downstream consumers rerank.
Top-k over a stream is a micro-batch concern — run the batch
ann_index_probe inside foreachBatch when ranked output is required.

Plan shape — ZERO state, every stage before the index join row-local:

- cell assignment: the K coarse sum-vectors ride the plan as a
  LITERAL array of structs (read on the driver from the index's tiny
  ``coarse/`` dir by ann_index.load_quantizers — K·d ints, the same
  driver ceiling the trainers enforce); each query row scores all K
  in an array HOF — using dot_cast's per-step DOUBLE fold and a
  dot_cast-shaped norm, the
  byte-identical _assign_trained arithmetic (an exact int64 dot would
  round DIFFERENTLY from the batch fold and overflow past 2^53 —
  code-review finding) — and takes its ``nprobe`` best by
  (score desc, cell asc) via sort_array on a (-score, cell) struct,
  the _assign_trained ordering without the window streaming forbids.
  Negation is IEEE-exact, and Spark normalizes -0.0 = 0.0 in
  comparisons, so the ordering is identical.
- ADC LUT: the PQ codebook rides as a literal nested array; each row
  computes its full m·k* LUT once (exact _l2_quant integers on the
  quantize_vec grid) as a flat array indexed lut[sub·k* + code].
- the ONE join: explode the nprobe cells and stream-static equi-join
  on ``cell`` against the static per-(cell, cid) GROUPED codes frame
  (codes arrays ordered by sub, built once from ``codes/``). The
  static side is the only corpus-sized input; the join output is
  bounded by (batch queries × nprobe × cell size).
- ADC: a row-local zip_with/aggregate fold over the candidate's m
  codes through the query's LUT — exact int64, bit-identical to the
  batch probe's LUT-join sum (pinned by tests/test_streaming_ann.py:
  stream == batch ann_index_probe scores on the same index).

State story at 100 TB/day: none. No watermark, no dropDuplicates, no
aggregation — emitted rows are a pure per-row function of (query,
static index), so the stream runs forever at flat memory; re-delivery
of a source row re-emits the same rows (idempotent for set
consumers). Geometry safety: the literal quantizers come FROM the
index dir itself, so stream and index cannot disagree by
construction; the QUERY side is guarded in-plan — a row whose vector
dimension disagrees with the index raises at execution instead of
NULL-padding through zip_with and silently emitting nothing (the
batch probe's geometry refusal (ann_index._matrix), row-local).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import dot_cast, quantize_vec


def _l2_fold(a: Column, b: Column) -> Column:
    """Exact squared-L2 between two BIGINT arrays (the _l2_quant fold,
    restated locally so the streaming module has no circular import)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def load_ann_index_static(
    spark: SparkSession, path: str
) -> tuple[dict, list, list, DataFrame]:
    """The static pieces a streaming probe plans against: (format,
    coarse rows [(cell, s)], codebook rows [(sub, cent_id, cv)],
    grouped codes frame (cell, cid, codes)). Coarse and codebook are
    read on the driver with pyarrow through the index module's one
    quantizer loader (operators/ann_index.py:load_quantizers — no Spark
    job; K·d and m·k*·dsub values, the trainer ceiling bounds both);
    codes stay distributed, grouped per (cell, cid) with the m codes
    ordered by sub, and PERSISTED — a stream-static join
    re-executes its static side every micro-batch, so without the
    persist the corpus-sized codes scan + grouping shuffle would
    re-run per trigger (and a concurrent delete's sibling swap could
    be re-read half-done mid-batch; with the persist, the snapshot
    taken here is the probe's consistent view — restart the stream
    after maintenance windows, the lsh_delta operational rule)."""
    from ..operators.ann_index import ann_index_format, load_quantizers

    fmt = ann_index_format(path)
    coarse_t, books_t = load_quantizers(path)
    coarse = sorted((r["cell"], r["s"]) for r in coarse_t.to_pylist())
    codebook = sorted(
        (r["sub"], r["cent_id"], r["cv"]) for r in books_t.to_pylist()
    )
    codes = (
        spark.read.parquet(os.path.join(path, "codes"))
        .groupBy("cell", "cid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("sub"), F.col("code")))
                ),
                lambda s: s["code"],
            ).alias("codes")
        )
        .persist()
    )
    return fmt, coarse, codebook, codes


def ann_radius_stream(
    queries_stream: DataFrame,
    spark: SparkSession,
    path: str,
    radius: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(qid, cid, adc) for every stream query within exact ADC
    ``radius`` of an indexed vector, probing ``nprobe`` coarse cells —
    the module docstring's stateless plan. ``queries_stream`` is a
    streaming (id, vector) frame; the index at ``path`` is an
    ann_index_write layout."""
    fmt, coarse, codebook, codes = load_ann_index_static(spark, path)
    d, m = int(fmt["d"]), int(fmt["m"])
    dsub = d // m
    ksub = max(c for _s, c, _v in codebook) + 1

    cents = F.array(
        *[
            F.struct(
                F.lit(cell).alias("cell"),
                F.array(*[F.lit(x).cast("long") for x in s]).alias("s"),
            )
            for cell, s in coarse
        ]
    )
    # codebook as cb[sub][cent] -> cv (dense: trainers emit every id)
    cb_rows: dict[tuple[int, int], list[int]] = {
        (s, c): v for s, c, v in codebook
    }
    lut_src = F.array(
        *[
            F.array(
                *[
                    F.array(
                        *[
                            F.lit(x).cast("long")
                            for x in cb_rows[(sub, cent)]
                        ]
                    )
                    for cent in range(ksub)
                ]
            )
            for sub in range(m)
        ]
    )

    # geometry guard, stream side: a query row whose vector dimension
    # disagrees with the index would NULL-pad through zip_with and be
    # SILENTLY dropped by the radius filter — raise instead, matching
    # the batch probe's geometry refusal (when/otherwise
    # coerces raise_error's NULL type into the array branch)
    vec = F.col(vec_col)
    qv = F.when(F.size(vec) == d, quantize_vec(vec)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "ann_radius_stream: query vector dimension != index "
                    f"d={d} (or NULL vector) for id "
                ),
                F.col(id_col).cast("string"),
            )
        )
    )
    # cell scoring MUST be dot_cast's per-step DOUBLE fold and a
    # dot_cast-shaped norm — the exact _assign_trained arithmetic —
    # not an int64 fold: the integer dot is exact only below 2^53
    # (large cells overflow it, and ANSI mode would hard-fail), and
    # its differently-rounded score would flip nprobe ordering near
    # ties vs the batch probe (code-review finding, r13)
    q = queries_stream.select(
        F.col(id_col).alias("qid"), qv.alias("qv")
    ).withColumn(
        "scored",
        F.transform(
            cents,
            lambda c: F.struct(
                (
                    -dot_cast(F.col("qv"), c["s"])
                    / F.sqrt(dot_cast(c["s"], c["s"]))
                ).alias("nscore"),
                c["cell"].alias("cell"),
            ),
        ),
    )
    probed = q.select(
        "qid",
        "qv",
        F.explode(
            F.transform(
                F.slice(F.array_sort(F.col("scored")), 1, nprobe),
                lambda s: s["cell"],
            )
        ).alias("cell"),
    )
    # full m·k* LUT per probe row: lut[sub*ksub + code + 1] (1-based)
    lut = F.flatten(
        F.transform(
            F.zip_with(
                lut_src,
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda cents_s, sub: F.struct(
                    cents_s.alias("cv"), sub.alias("sub")
                ),
            ),
            lambda z: F.transform(
                z["cv"],
                lambda cv: _l2_fold(
                    F.slice(
                        F.col("qv"), z["sub"] * dsub + 1, dsub
                    ),
                    cv,
                ),
            ),
        )
    )
    with_lut = probed.withColumn("lut", lut).select("qid", "cell", "lut")
    cand = with_lut.join(codes, "cell").filter(F.col("qid") != F.col("cid"))
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda code, sub: F.element_at(
                F.col("lut"), (sub * ksub + code + 1).cast("int")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        cand.withColumn("adc", adc)
        .filter(F.col("adc") <= F.lit(int(radius)))
        .select(
            F.col("qid").cast("long"),
            F.col("cid").cast("long"),
            F.col("adc").cast("long"),
        )
    )
