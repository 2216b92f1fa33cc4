"""Persisted IVFADC index lifecycle (r13, r12 VERDICT item 3).

The session-scoped IVFADC stack (operators/similarity.py:
ivfpq_topk_trained) recomputes cell assignments and PQ codes from the
trainer memo every session. A production corpus with a standing
10^9-vector index persists them once and probes/maintains the files
incrementally — the LSH index lifecycle of operators/dedup.py
(``lsh_index_write``, ``lsh_index_append``, ``lsh_index_compact``,
``lsh_index_delete``) applied to ANN. This module is that surface:

- :func:`ann_index_write`   — train-once encode of a corpus to disk
- :func:`ann_index_append`  — encode an ingest batch with the
  PERSISTED quantizers (no retraining) and land it beside the rest
- :func:`ann_index_delete`  — GDPR/takedown erasure of ids through the
  shared crash-safe sibling swap (doubles as a compaction)
- :func:`ann_index_probe`   — ADC top-k answered FROM THE FILES: no
  trainer, no corpus scan, only the probed cells' row groups

On-disk LAYOUT at ``path`` (all parquet dirs Spark reads):

- ``coarse/``    (cell BIGINT, s ARRAY<BIGINT>) — the trained coarse
  sum-vectors exactly as train_centroids emits them (K rows; tiny).
- ``codebooks/`` (sub INT, cent_id BIGINT, cv ARRAY<BIGINT>) — the
  trained PQ sub-codebooks on the quantize_vec grid (m·k* rows; tiny).
- ``codes/``     (cell BIGINT, cid BIGINT, sub INT, code BIGINT) — the
  encoded corpus: N·m rows of four small integers, repartitioned AND
  sorted on ``cell`` so a probe's cell filter prunes at the parquet
  row-group level. This is the only corpus-sized artifact.
- ``_ann_format.json`` sidecar at the ROOT (deliberately outside the
  swapped ``codes/`` dir, so the swap machinery never has to preserve
  it): format version + (m, d, k_coarse, scale). Writes, appends and
  probes refuse every vector whose length is not the quantizers' d
  (_matrix, row by row) — the ANN twin of the LSH v2-vs-v3 width
  check: codes from two different quantizer geometries must never
  meet in one ADC sum.

Plan shape. The quantizers are tiny and live on the driver: write lands
``coarse/`` and ``codebooks/`` from the trainer lists with pyarrow, and
append/probe read them back with pyarrow (:func:`load_quantizers`) —
no Spark job touches them. Encoding is
ONE ``mapInArrow`` NumPy kernel shared by write and append (scan →
MapInArrow → the cell repartition → sort → parquet): per Arrow batch it
quantizes on the quantize_vec grid, assigns each vector its best coarse
cell and picks each subspace's PQ code, bit-identical to the Spark
reference expressions (similarity.py: _assign_trained, pq_subvectors,
_l2_quant — see :class:`_Quantizers`). The only shuffle is the cell
repartition of four small integers per (vector, sub). Probes collect
the query batch once, score cells and the ADC LUT on the driver with
the same NumPy functions, and hand both to the pushed ``cell IN (...)``
codes scan as Arrow-built local relations (ann_index_probe). Appends
are O(batch·m); deletes are one full-index scan through the sibling
swap, the same cost class as LSH index maintenance.

Two limits follow from that shape: the kernel's closure carries the
quantizers (K·d + m·k*·dsub values — at most ``TRAIN_KD_CEILING``, the
bound every driver-held quantizer already obeys), and ``path`` must be
a filesystem path the driver can read and write, which the sidecar
already assumed.

Reference parity: the reference engine has no persisted ANN index;
this extends its data model the way a training-data pipeline needs
(SURVEY.md LLM-extension mandate). Quantizer determinism story:
operators/similarity.py:train_centroids / train_pq_codebooks.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.errors import PythonException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_df
from .similarity import QUANT_SCALE

ANN_FORMAT_SIDECAR = "_ann_format.json"
_COARSE = pa.schema([("cell", pa.int64()), ("s", pa.list_(pa.int64()))])
_BOOKS = pa.schema(
    [("sub", pa.int32()), ("cent_id", pa.int64()), ("cv", pa.list_(pa.int64()))]
)
_GEOMETRY = ("codes from different quantizer geometries never sum into one "
             "ADC distance; rebuild with ann_index_write")
# kernel errors re-raised on the driver as their own type
_KERNEL_ERRORS = {
    e.__name__: e for e in (ValueError, ZeroDivisionError, ArithmeticError)
}
_KERNEL_ERROR = re.compile(rf"^({'|'.join(_KERNEL_ERRORS)}): (.*)$", re.M)


def _write_ann_format(path: str, m: int, d: int, k_coarse: int) -> None:
    with open(os.path.join(path, ANN_FORMAT_SIDECAR), "w") as f:
        json.dump(
            {
                "format": 1,
                "kind": "ivfadc",
                "m": m,
                "d": d,
                "k_coarse": k_coarse,
                "scale": QUANT_SCALE,
            },
            f,
        )


def ann_index_format(path: str) -> dict:
    """The index's format sidecar, or a hard error for a directory
    this module did not write — unlike the LSH index there is no
    sidecar-less legacy generation to default to."""
    sidecar = os.path.join(path, ANN_FORMAT_SIDECAR)
    if not os.path.exists(sidecar):
        raise ValueError(
            f"no {ANN_FORMAT_SIDECAR} at {path} — not an ann_index_write "
            "layout (or the root dir was swapped instead of codes/)"
        )
    with open(sidecar) as f:
        return json.load(f)


def load_quantizers(path: str) -> tuple[pa.Table, pa.Table]:
    """The index's (coarse, codebooks) tables, read on the driver with
    pyarrow — no Spark job. Reads Spark-written and pyarrow-written
    dirs alike (pyarrow skips the ``_SUCCESS`` and ``.crc`` files)."""
    read = lambda name, schema: pq.read_table(os.path.join(path, name)).cast(schema)
    return read("coarse", _COARSE), read("codebooks", _BOOKS)


def _matrix(col, width: int | None, what: str) -> np.ndarray:
    """(rows, width) NumPy matrix of a list column; ValueError on a null
    row, a null element or a row whose length is not ``width`` (the
    first row's when None) — zip_with would NULL-pad those into
    garbage scores and codes."""
    lens = np.asarray(pc.list_value_length(col).fill_null(-1))
    width = int(lens[0]) if width is None and len(lens) else width
    vals = pc.list_flatten(col)
    if col.null_count or vals.null_count or (lens != width).any():
        raise ValueError(f"{what} geometry: every row must be a non-null "
                         f"{width}-element vector — {_GEOMETRY}")
    return np.asarray(vals).reshape(len(lens), width or 0)


def _quantize(x: np.ndarray) -> np.ndarray:
    """quantize_vec in NumPy: round(x·2^16) half away from zero, cast
    to BIGINT. ``t - floor(t)`` is exact in binary floating point, so
    the half test is exact — the same integers as Spark's BigDecimal
    HALF_UP round of the double; CAST_OVERFLOW where Spark's ANSI cast
    raises (non-finite or outside BIGINT)."""
    y = x.astype(np.float64) * QUANT_SCALE
    if not ((y >= -(2.0**63)) & (y < 2.0**63)).all():
        raise ArithmeticError("[CAST_OVERFLOW] quantized component outside BIGINT")
    t = np.abs(y)
    r = np.floor(t)
    r += t - r >= 0.5
    return np.copysign(r, y).astype(np.int64)


def _fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """dot_cast in NumPy: products of the double-cast elements summed
    in element order from 0.0 — the same IEEE operations in the same
    order as the Spark fold (np.dot would reorder and fuse them)."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for j in range(a.shape[-1]):
        acc = acc + a[..., j] * b[..., j]
    return acc


def _l2(sq: np.ndarray, cv: np.ndarray) -> np.ndarray:
    """_l2_quant in NumPy: exact int64 squared-L2 of every (row, centroid)
    pair, (n, k). Where a term or partial sum COULD leave BIGINT —
    dsub·(max|x| + max|y|)² ≥ 2^63, a conservative bound — raises
    ARITHMETIC_OVERFLOW as Spark's ANSI fold does, instead of wrapping."""
    hi = sum(max(-int(a.min()), int(a.max())) for a in (sq, cv))
    if sq.shape[1] * hi * hi >= 2**63:
        raise ArithmeticError("[ARITHMETIC_OVERFLOW] PQ distance exceeds BIGINT")
    dist = np.zeros((len(sq), len(cv)), np.int64)
    for j in range(sq.shape[1]):
        diff = sq[:, j, None] - cv[None, :, j]
        dist += diff * diff
    return dist


class _Quantizers:
    """The persisted quantizers as NumPy arrays, and the three encode
    rules of the Spark reference (similarity.py) over them:

    - cell score = dot_cast(qv, s) / sqrt(dot_cast(s, s)) (_assign_trained);
      DIVIDE_BY_ZERO on a zero-norm centroid, as ANSI Spark raises;
    - best cell = highest score, ties to the lowest cell (the struct max
      over (score, -cell)); probe cells = (score desc, cell asc);
    - PQ code = the exact squared-L2 argmin, ties to the lowest cent_id
      (the min over (dist, cent_id)).

    Rows sort by cell and by (sub, cent_id), so NumPy's first-index
    argmax/argmin/stable argsort IS the tie rule."""

    def __init__(self, coarse: pa.Table, books: pa.Table, m: int):
        coarse = coarse.sort_by("cell")
        books = books.sort_by([("sub", "ascending"), ("cent_id", "ascending")])
        self.cells = coarse["cell"].to_numpy()
        s = _matrix(coarse["s"], None, "coarse").astype(np.float64)
        cv = _matrix(books["cv"], None, "codebook")
        self.d, self.dsub = s.shape[1], cv.shape[1]
        subs = books["sub"].to_numpy()
        if not len(s) or self.d != m * self.dsub or set(subs) != set(range(m)):
            raise ValueError(f"quantizer geometry: d={self.d}, m={m}, "
                             f"dsub={self.dsub}, subs={sorted(set(subs))}")
        self.s, self.sn = s, np.sqrt(_fold(s, s))
        ids = books["cent_id"].to_numpy()
        self.books = [(ids[subs == b], cv[subs == b]) for b in range(m)]

    def scores(self, qv: np.ndarray) -> np.ndarray:
        if not self.sn.all():
            raise ZeroDivisionError("[DIVIDE_BY_ZERO] zero-norm coarse centroid")
        return _fold(qv.astype(np.float64)[:, None, :], self.s) / self.sn

    def top_cells(self, qv: np.ndarray, nprobe: int) -> np.ndarray:
        order = np.argsort(-self.scores(qv), axis=1, kind="stable")
        return self.cells[order[:, :nprobe]]

    def dists(self, qv: np.ndarray) -> list[tuple[np.ndarray, np.ndarray]]:
        """(cent_ids, (n, k) distances) per subspace, in sub order."""
        w = self.dsub
        return [(ids, _l2(qv[:, b * w : (b + 1) * w], cv))
                for b, (ids, cv) in enumerate(self.books)]

    def encode(self, batch: pa.RecordBatch) -> pa.RecordBatch:
        """(cid, vector) rows -> (cell, cid, sub, code) rows, m per vector."""
        qv = _quantize(_matrix(batch.column(1), self.d, "vector"))
        n, m = len(qv), len(self.books)
        codes = np.stack([ids[d.argmin(axis=1)] for ids, d in self.dists(qv)], 1)
        return pa.RecordBatch.from_pydict({
            "cell": np.repeat(self.cells[self.scores(qv).argmax(axis=1)], m),
            "cid": batch.column(0).take(np.repeat(np.arange(n), m)),
            "sub": np.tile(np.arange(m, dtype=np.int32), n),
            "code": codes.ravel(),
        })


def _code_rows(vectors, quant, id_col, vec_col) -> DataFrame:
    """(cell, cid, sub, code) rows for ``vectors``, repartitioned and
    sorted on cell for the write: scan → one MapInArrow → the cell
    Exchange (tests/test_plans.py pins that shape)."""
    cid_type = vectors.schema[id_col].dataType.simpleString()
    return (
        vectors.select(F.col(id_col).alias("cid"), F.col(vec_col))
        .mapInArrow(
            lambda batches: (quant.encode(b) for b in batches if b.num_rows),
            f"cell long, cid {cid_type}, sub int, code long",
        )
        .repartition(F.col("cell"))
        .sortWithinPartitions("cell")
    )


def _land_codes(vectors, path, quant, mode, id_col, vec_col) -> None:
    """Encode ``vectors`` and land the code rows in ``codes/`` — the one
    encode path of write and append. A kernel error reaches the caller
    as its own exception type, not as a worker traceback."""
    codes = _code_rows(vectors, quant, id_col, vec_col)
    try:
        codes.write.mode(mode).parquet(os.path.join(path, "codes"))
    except PythonException as exc:
        hit = _KERNEL_ERROR.findall(str(exc))
        if not hit:
            raise
        raise _KERNEL_ERRORS[hit[-1][0]](hit[-1][1]) from exc


def ann_index_write(
    embeddings: DataFrame, path: str, coarse: list[tuple[int, list[int], int]],
    codebooks: list[tuple[int, int, list[int]]], m: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> None:
    """Persist the corpus's IVFADC index: quantizers (from
    train_centroids / train_pq_codebooks) + encoded codes, laid out as
    the module docstring describes. ``d`` comes from the quantizers —
    an embedding of any other length, or a null one, raises ValueError
    instead of encoding as garbage. The quantizer dirs land straight
    from the driver-held lists; codes land repartitioned+sorted on
    ``cell`` for row-group skipping on the probe side — the same
    per-file discipline as lsh_index_write."""
    tables = [pa.Table.from_pylist([dict(zip(t.names, r)) for r in rows], t)
              for rows, t in ((coarse, _COARSE), (codebooks, _BOOKS))]
    quant = _Quantizers(*tables, m)
    for name, table in zip(("coarse", "codebooks"), tables):
        shutil.rmtree(os.path.join(path, name), ignore_errors=True)
        os.makedirs(os.path.join(path, name))
        pq.write_table(table, os.path.join(path, name, "part-00000.parquet"))
    _land_codes(embeddings, path, quant, "overwrite", id_col, vec_col)
    _write_ann_format(path, m, quant.d, len(coarse))


def ann_index_append(
    batch: DataFrame, path: str, id_col: str = "vec_id", vec_col: str = "embedding"
) -> None:
    """Index maintenance for a GROWING corpus: encode an ingest batch
    with the PERSISTED quantizers — read back from ``coarse/`` and
    ``codebooks/``, never retrained, which is the point: training
    moved to write time, appends are O(batch·m) — and land its sorted
    code rows beside the existing ones (probes read the union;
    ann_index_delete doubles as the compaction between cycles).
    Geometry is checked row by row in the kernel: a vector whose
    length disagrees with the index raises ValueError before any code
    lands (the failed job commits nothing)."""
    fmt = ann_index_format(path)  # refuse a non-index dir even when empty
    if batch.isEmpty():
        # empty ingest batch: nothing to encode — a no-op, not an error
        # (the delete/re-ingest cycle legitimately produces empty
        # batches, and an empty write would land a phantom file)
        return
    quant = _Quantizers(*load_quantizers(path), int(fmt["m"]))
    _land_codes(batch, path, quant, "append", id_col, vec_col)


def ann_index_delete(
    spark: SparkSession,
    path: str,
    tombstones: DataFrame,
    id_col: str = "vec_id",
) -> None:
    """The DELETE half of the takedown lifecycle for the ANN index:
    remove every code row whose ``cid`` is tombstoned, so probes stop
    ranking vectors the corpus no longer contains — the lsh_index_delete
    ghost-pair story, verbatim (a deleted-but-indexed vector would
    keep appearing in top-k results, the exact failure an erasure
    audit looks for). Rides the shared crash-safe sibling swap
    (operators/dedup.py:_sibling_swap_rewrite, key_col='cell') over
    ``codes/`` only — quantizers hold no per-vector data and stay in
    place, and the root sidecar sits outside the swapped dir by
    design. Re-lands survivors sorted on cell, so a delete doubles as
    a compaction of the appended file sets."""
    from .dedup import _sibling_swap_rewrite

    ann_index_format(path)  # refuse non-index dirs before any rewrite
    ids = tombstones.select(F.col(id_col).alias("cid")).distinct()
    _sibling_swap_rewrite(
        spark,
        os.path.join(path, "codes"),
        # re-select the canonical column order: the USING join moves
        # cid first, and the on-disk schema should stay stable across
        # maintenance cycles
        lambda idx: idx.join(F.broadcast(ids), "cid", "left_anti").select(
            "cell", "cid", "sub", "code"
        ),
        key_col="cell",
    )


def ann_index_probe(
    spark: SparkSession, queries: DataFrame, path: str, k: int = 3,
    nprobe: int = 2, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k answered from the written files, no retraining and no
    corpus scan: returns (qid, rnk, cid, adc) — adc the exact-BIGINT
    squared-L2 LUT sum of ivfpq_topk_trained, WITHOUT the raw-vector
    cosine rerank (the index stores codes, not vectors; rerank, when
    wanted, is a bounded nq·k join back to the corpus table, the
    caller's move).

    Plan shape: the query batch is COLLECTED once with ``toArrow`` —
    nq·d values, the small-batch bound the probed-cell literal already
    assumes (a probe batch is small by definition; big batches go in
    slices). On the driver the
    encode kernel's functions (:class:`_Quantizers`, over the
    pyarrow-read quantizers) pick each query's top-``nprobe`` cells
    (score desc, cell asc) and compute its m·k* ADC LUT; both enter
    the plan as ``createDataFrame(pyarrow.Table)`` local relations.
    The probed cell ids become an ``isin`` literal filter, so the
    codes scan prunes at the parquet row-group level (the sorted cell
    column makes min/max stats decisive); the cells and the LUT
    broadcast into the candidate rows (the LUT join IS the
    residual-entry pruning trick), then one candidate groupBy and the
    two-phase WindowGroupLimit ranking. Nothing corpus-sized shuffles:
    the cell+code attach was materialized at write time."""
    fmt = ann_index_format(path)  # refuse a non-index dir before the collect
    qt = queries.select(F.col(id_col).alias("qid"), F.col(vec_col)).toArrow()
    if not qt.num_rows:  # an empty result with the contract schema
        return local_df(spark, [], "qid long, rnk long, cid long, adc long")
    quant = _Quantizers(*load_quantizers(path), int(fmt["m"]))
    qv = _quantize(_matrix(qt.column(1), quant.d, "vector"))
    top = quant.top_cells(qv, nprobe)
    row = np.arange(len(qv))
    qid, sub, code, dist = map(np.concatenate, zip(*(
        (np.repeat(row, len(ids)), np.full(dd.size, b, np.int32),
         np.tile(ids, len(qv)), dd.ravel())
        for b, (ids, dd) in enumerate(quant.dists(qv))
    )))
    cells_q = spark.createDataFrame(pa.table({
        "qid": qt.column(0).take(np.repeat(row, top.shape[1])),
        "cell": top.ravel(),
    }))
    lut = spark.createDataFrame(pa.table({
        "qid": qt.column(0).take(qid), "sub": sub, "code": code, "d": dist
    }))
    codes = spark.read.parquet(os.path.join(path, "codes")).filter(
        F.col("cell").isin(np.unique(top).tolist())
    )
    cand = codes.join(F.broadcast(cells_q), "cell").filter(
        F.col("qid") != F.col("cid")
    )
    adc = (
        cand.join(F.broadcast(lut), ["qid", "sub", "code"])
        .groupBy("qid", "cid")
        .agg(F.sum("d").alias("adc"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc"), F.asc("cid"))
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(*(F.col(c).cast("long") for c in ("qid", "rnk", "cid", "adc")))
    )
