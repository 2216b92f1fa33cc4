"""Persisted IVFADC index lifecycle (operators/ann_index.py): the
write -> append -> delete -> probe cycle answered from the files, held
to the session-scoped trained stack it materializes.

Independence discipline: the probe's ADC ranking is checked against
ivfpq_topk_trained's ranking over the same corpus/quantizers (whose
own correctness is driver-hashed against the composed k-means + PQ +
probe DuckDB oracle), and the maintenance properties (append
equivalence, ghost-freeness after delete, geometry refusal) are
checked from the file contents directly."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from sentinel_landsat_database_creation_spark.operators.ann_index import (
    ann_index_append,
    ann_index_delete,
    ann_index_format,
    ann_index_probe,
    ann_index_write,
)
from sentinel_landsat_database_creation_spark.operators.similarity import (
    train_centroids,
    train_pq_codebooks,
)
from sentinel_landsat_database_creation_spark.sources.testdata import table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def quantizers(spark):
    e = table(spark, SF, "embeddings")
    coarse = train_centroids(e, n_centroids=8, n_iters=2)
    cb = train_pq_codebooks(e, m=4, n_sub_centroids=8, n_iters=2)
    return e, coarse, cb


def test_probe_matches_trained_stack(spark, quantizers, tmp_path):
    """A full-corpus index probed at the same (k, nprobe) must rank
    exactly as ivfpq_topk_trained's ADC phase: same qids, same cids,
    same ranks (the trained entry's cosine rerank only APPENDS a float
    column to the same rows)."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        ivfpq_topk_trained,
    )

    e, coarse, cb = quantizers
    p = str(tmp_path / "annidx")
    ann_index_write(e, p, coarse, cb, m=4)
    q = e.filter(F.col("vec_id") < 5)
    got = {
        (r["qid"], r["rnk"]): r["cid"]
        for r in ann_index_probe(spark, q, p, k=3, nprobe=2).collect()
    }
    want = {
        (r["qid"], r["rnk"]): r["cid"]
        for r in ivfpq_topk_trained(
            e, q, coarse, cb, k=3, m=4, nprobe=2
        ).collect()
    }
    assert got == want and got


def test_append_equals_whole_write(spark, quantizers, tmp_path):
    """write(gen1) + append(gen2) must hold exactly the code rows of
    write(gen1 UNION gen2) — appends encode with the PERSISTED
    quantizers, so the split can't drift the codes."""
    e, coarse, cb = quantizers
    gen1 = e.filter(F.col("vec_id") % 2 == 1)
    gen2 = e.filter(F.col("vec_id") % 2 == 0)
    p_split = str(tmp_path / "split")
    p_whole = str(tmp_path / "whole")
    ann_index_write(gen1, p_split, coarse, cb, m=4)
    ann_index_append(gen2, p_split)
    ann_index_write(e, p_whole, coarse, cb, m=4)
    a = sorted(
        map(tuple, spark.read.parquet(f"{p_split}/codes").collect())
    )
    b = sorted(
        map(tuple, spark.read.parquet(f"{p_whole}/codes").collect())
    )
    assert a == b and a


def test_delete_erases_and_compacts(spark, quantizers, tmp_path):
    """After ann_index_delete no code row of a tombstoned id survives
    (ghost-freeness read from the post-swap files), every other row is
    intact, probes stop returning the deleted ids, and no swap sibling
    is left behind."""
    import os

    e, coarse, cb = quantizers
    p = str(tmp_path / "annidx")
    ann_index_write(e, p, coarse, cb, m=4)
    before = sorted(map(tuple, spark.read.parquet(f"{p}/codes").collect()))
    tomb = e.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    tomb_ids = {r["vec_id"] for r in tomb.collect()}
    assert tomb_ids, "fixture must tombstone something"
    ann_index_delete(spark, p, tomb)
    after = sorted(map(tuple, spark.read.parquet(f"{p}/codes").collect()))
    assert not any(r[1] in tomb_ids for r in after)
    assert after == [r for r in before if r[1] not in tomb_ids]
    assert not os.path.isdir(f"{p}/codes__compacting")
    assert not os.path.isdir(f"{p}/codes__old")
    q = e.filter(F.col("vec_id") < 5)
    hits = ann_index_probe(spark, q, p, k=3, nprobe=2).collect()
    assert hits and not any(r["cid"] in tomb_ids for r in hits)


def test_geometry_mismatch_refused(spark, quantizers, tmp_path):
    """A batch or probe whose embedding dim disagrees with the sidecar
    raises instead of landing/scoring cross-geometry codes; a
    non-index dir raises before any rewrite."""
    e, coarse, cb = quantizers
    p = str(tmp_path / "annidx")
    ann_index_write(e, p, coarse, cb, m=4)
    fmt = ann_index_format(p)
    assert (fmt["m"], fmt["d"], fmt["k_coarse"]) == (4, 64, 8)
    short = e.select(
        "vec_id", F.slice("embedding", 1, 32).alias("embedding")
    )
    n_codes = spark.read.parquet(f"{p}/codes").count()
    with pytest.raises(ValueError, match="geometr"):
        ann_index_append(short, p)
    assert spark.read.parquet(f"{p}/codes").count() == n_codes
    with pytest.raises(ValueError, match="geometr"):
        ann_index_probe(spark, short.limit(2), p)
    # write takes d from the quantizers: 32-d embeddings under 64-d
    # quantizers, or a null vector, must raise instead of landing a
    # d=32 sidecar over all-zero codes in cell 0 (zip_with null-pads)
    with pytest.raises(ValueError, match="geometr"):
        ann_index_write(short, str(tmp_path / "short"), coarse, cb, m=4)
    one_null = e.select(
        "vec_id",
        F.when(F.col("vec_id") != 7, F.col("embedding")).alias("embedding"),
    )
    with pytest.raises(ValueError, match="geometr"):
        ann_index_write(one_null, str(tmp_path / "null"), coarse, cb, m=4)
    assert not (tmp_path / "short" / "_ann_format.json").exists()
    with pytest.raises(ValueError, match="_ann_format"):
        ann_index_delete(
            spark, str(tmp_path / "nonindex"), e.select("vec_id")
        )


def test_probe_plan_prunes_and_stays_two_phase(spark, quantizers, tmp_path):
    """The scale contract in the plan: the probed-cell filter reaches
    the codes scan as a pushed filter (row-group pruning on the sorted
    cell column), and the ranking keeps Spark's two-phase
    WindowGroupLimit pushdown (the pq_topk lesson — a config change
    would silently serialize the reducer)."""
    e, coarse, cb = quantizers
    p = str(tmp_path / "annidx")
    ann_index_write(e, p, coarse, cb, m=4)
    q = e.filter(F.col("vec_id") < 5)
    plan = (
        ann_index_probe(spark, q, p, k=3, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert scan and any("In(cell" in ln for ln in scan), plan
    assert "WindowGroupLimit" in plan, plan


def test_empty_probe_and_append_after_delete(spark, quantizers, tmp_path):
    """Lifecycle edges: probing with an empty query set returns an
    empty frame (the isin([]) filter short-circuits, no job explosion);
    appending AFTER a delete lands beside the swap-rewritten files and
    probes read the union — the standing maintenance cycle
    (delete ghosts, re-ingest survivors) must not corrupt the layout."""
    e, coarse, cb = quantizers
    p = str(tmp_path / "annidx")
    gen1 = e.filter(F.col("vec_id") % 2 == 1)
    gen2 = e.filter(F.col("vec_id") % 2 == 0)
    ann_index_write(gen1, p, coarse, cb, m=4)

    empty_q = e.filter(F.col("vec_id") < 0)
    assert ann_index_probe(spark, empty_q, p, k=3, nprobe=2).count() == 0
    # empty ingest batch: a no-op, not a crash or a phantom file set
    n_before = spark.read.parquet(f"{p}/codes").count()
    ann_index_append(empty_q, p)
    assert spark.read.parquet(f"{p}/codes").count() == n_before

    tomb = gen1.filter(F.col("vec_id") % 5 == 1).select("vec_id")
    ann_index_delete(spark, p, tomb)
    ann_index_append(gen2, p)
    got = sorted(map(tuple, spark.read.parquet(f"{p}/codes").collect()))

    p2 = str(tmp_path / "direct")
    tomb_ids = {r["vec_id"] for r in tomb.collect()}
    survivors = e.filter(~F.col("vec_id").isin(sorted(tomb_ids)))
    ann_index_write(survivors, p2, coarse, cb, m=4)
    want = sorted(map(tuple, spark.read.parquet(f"{p2}/codes").collect()))
    assert got == want and got


def _spark_reference_codes(spark, vectors, coarse, cb, m):
    """{cid: (cell, {sub: code})} by the Spark expressions the encode
    kernel replaces (similarity.py): _assign_trained's struct-max cell,
    pq_subvectors + _l2_quant with the min-(dist, cent_id) code."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        _assign_trained,
        _l2_quant,
        _trained_centroid_frame,
        pq_subvectors,
    )

    d = len(coarse[0][1])
    cells = _assign_trained(
        vectors, _trained_centroid_frame(spark, coarse), "vec_id", 1
    ).collect()
    books = spark.createDataFrame(cb, "sub int, cent_id long, cv array<long>")
    best = F.min(F.struct(F.col("dist"), F.col("cent_id")))
    codes = (
        pq_subvectors(vectors, m, d // m, out_id="cid")
        .join(books, "sub")
        .withColumn("dist", _l2_quant(F.col("sq"), F.col("cv")))
        .groupBy("cid", "sub")
        .agg(best.alias("b"))
        .select("cid", "sub", F.col("b.cent_id").alias("code"))
        .collect()
    )
    out = {r["vec_id"]: (r["cell"], {}) for r in cells}
    for r in codes:
        out[r["cid"]][1][r["sub"]] = r["code"]
    return out


def test_kernel_ties_and_half_grid_match_spark_reference(spark, tmp_path):
    """The encode kernel's (cell, code) per vector equals the Spark
    reference on a crafted fixture built to hit every tie rule:
    duplicate coarse centroids (score ties -> lowest cell), duplicate
    and equidistant sub-centroids (distance ties -> lowest cent_id),
    a zero vector (every score ties), and components on exact half-grid
    points x·2^16 = ±(k + 0.5) (round half away from zero). The probe's
    top-nprobe cells (score desc, cell asc) equal _assign_trained's
    nprobe window on the same fixture."""
    import numpy as np

    from sentinel_landsat_database_creation_spark.operators.ann_index import (
        _matrix,
        _quantize,
        _Quantizers,
        load_quantizers,
    )
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        _assign_trained,
        _trained_centroid_frame,
        quantize_vec,
    )

    rng = np.random.default_rng(7)
    ks = rng.integers(-60, 60, size=(64, 4))
    half = rng.random((64, 4)) < 0.5
    vecs = ((ks + np.where(half, 0.5, 0.0)) / 65536).astype(np.float32)
    vecs[0] = 0.0
    vecs[1] = [-0.0, 0.5 / 65536, -0.5 / 65536, 1.5 / 65536]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # listed out of cell order; 0/1 and 2/3 are duplicates, 4 is 2x cell 0
    coarse = [
        (4, [60, 20, -40, 100], 1),
        (1, [30, 10, -20, 50], 1),
        (3, [-40, 0, 10, 0], 1),
        (0, [30, 10, -20, 50], 1),
        (2, [-40, 0, 10, 0], 1),
        (5, [0, 25, 25, 0], 1),
    ]
    cb = [
        (0, 3, [10, 20]),
        (0, 0, [10, 20]),
        (0, 1, [50, 20]),
        (0, 2, [30, -40]),
        (1, 0, [0, 0]),
        (1, 1, [0, 0]),
        (1, 2, [40, 40]),
        (1, 3, [-40, -40]),
    ]
    got_q = [
        [int(x) for x in r["q"]]
        for r in v.orderBy("vec_id").select(quantize_vec("embedding").alias("q"))
        .collect()
    ]
    assert _quantize(vecs.astype(np.float64)).tolist() == got_q
    assert [1, -1] in [r[1:3] for r in got_q]  # ±0.5 rounds away from zero

    p = str(tmp_path / "ties")
    ann_index_write(v, p, coarse, cb, m=2)
    got = {}
    for r in spark.read.parquet(f"{p}/codes").collect():
        got.setdefault(r["cid"], (r["cell"], {}))[1][r["sub"]] = r["code"]
    want = _spark_reference_codes(spark, v, coarse, cb, 2)
    assert got == want
    assert {c for c, _ in got.values()} <= {0, 2, 4, 5}  # duplicates lose
    assert got[0][0] == 0 and got[0][1] == {0: 0, 1: 0}

    quant = _Quantizers(*load_quantizers(p), 2)
    qv = _quantize(_matrix(v.orderBy("vec_id").toArrow().column(1), 4, "vector"))
    top = quant.top_cells(qv, 3)
    ranked = _assign_trained(
        v, _trained_centroid_frame(spark, coarse), "vec_id", 3
    ).collect()
    want_top = {}
    for r in ranked:
        want_top.setdefault(r["vec_id"], set()).add(r["cell"])
    assert {i: set(row.tolist()) for i, row in enumerate(top)} == want_top

    # off the grid the fold ORDER decides the low bits: the kernel's
    # scores equal the Spark fold's bit for bit (np.dot/einsum differ)
    import pyarrow as pa

    from sentinel_landsat_database_creation_spark.operators.ann_index import (
        _BOOKS,
        _COARSE,
    )
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        dot_cast,
    )

    big = rng.normal(scale=40.0, size=(48, 8)).astype(np.float32)
    sums = [
        (c, [int(x) for x in rng.integers(-(2**40), 2**40, 8)], 1)
        for c in range(6)
    ]
    vb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(big)],
        "vec_id long, embedding array<float>",
    )
    score = dot_cast(F.col("qv"), F.col("s")) / F.col("sn")
    want_sc = {
        (r["vec_id"], r["cell"]): r["score"]
        for r in vb.select("vec_id", quantize_vec("embedding").alias("qv"))
        .crossJoin(_trained_centroid_frame(spark, sums))
        .select("vec_id", "cell", score.alias("score"))
        .collect()
    }
    qb = _Quantizers(
        pa.Table.from_pylist([{"cell": c, "s": s} for c, s, _n in sums], _COARSE),
        pa.Table.from_pylist(
            [{"sub": b, "cent_id": 0, "cv": [0] * 4} for b in range(2)], _BOOKS
        ),
        2,
    )
    got_sc = qb.scores(_quantize(big.astype(np.float64)))
    assert {(i, c): got_sc[i, c] for i in range(48) for c in range(6)} == want_sc


def test_zero_norm_centroid_raises_like_spark(spark, quantizers, tmp_path):
    """ANSI parity: Spark's cell score divides by the centroid norm and
    raises DIVIDE_BY_ZERO on a zero-norm centroid; the encode kernel
    and the driver-side probe scoring raise it too, instead of
    producing inf/NaN scores."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sentinel_landsat_database_creation_spark.operators.ann_index import (
        _COARSE,
    )
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        _assign_trained,
        _trained_centroid_frame,
    )

    e, coarse, cb = quantizers
    zero = [(c, [0] * len(s) if c == 1 else s, n) for c, s, n in coarse]
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _assign_trained(
            e, _trained_centroid_frame(spark, zero), "vec_id", 1
        ).collect()
    with pytest.raises(ZeroDivisionError, match="DIVIDE_BY_ZERO"):
        ann_index_write(e, str(tmp_path / "w"), zero, cb, m=4)

    p = str(tmp_path / "probe")
    ann_index_write(e, p, coarse, cb, m=4)
    # a zero-norm centroid in the persisted coarse/ (written as
    # ann_index_write lands it)
    shutil.rmtree(f"{p}/coarse")
    (tmp_path / "probe" / "coarse").mkdir()
    pq.write_table(
        pa.Table.from_pylist([{"cell": c, "s": s} for c, s, _n in zero], _COARSE),
        f"{p}/coarse/part-00000.parquet",
    )
    with pytest.raises(ZeroDivisionError, match="DIVIDE_BY_ZERO"):
        ann_index_probe(spark, e.filter(F.col("vec_id") < 3), p)


def test_distance_overflow_raises_like_spark(spark, quantizers, tmp_path):
    """ANSI parity: an exact-BIGINT PQ distance past 2^63 raises
    ARITHMETIC_OVERFLOW in Spark's _l2_quant fold; the kernel raises it
    instead of wrapping into a small (winning) distance."""
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        _l2_quant,
        pq_subvectors,
    )

    e, coarse, cb = quantizers
    huge = [(b, c, [2**62] * len(v) if c == 0 else v) for b, c, v in cb]
    books = spark.createDataFrame(huge, "sub int, cent_id long, cv array<long>")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        pq_subvectors(e, 4, 16, out_id="cid").join(books, "sub").select(
            _l2_quant(F.col("sq"), F.col("cv"))
        ).collect()
    with pytest.raises(ArithmeticError, match="ARITHMETIC_OVERFLOW"):
        ann_index_write(e, str(tmp_path / "w"), coarse, huge, m=4)
