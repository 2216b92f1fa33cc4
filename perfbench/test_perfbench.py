"""Harness tests: the generator is deterministic in its seed, and the
output checks catch a deliberately corrupted output. No Spark session:
a correct engine output is synthesized from the generated inputs, then
damaged one way at a time.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import workloads  # noqa: E402

SHARDS = {
    "scene_ingest": (gen.scene_shard, gen.scene_digest),
    "corpus_curation": (gen.corpus_shard, gen.corpus_digest),
}


@pytest.mark.parametrize("workload", sorted(SHARDS))
def test_generator_is_seeded(workload):
    make, digest = SHARDS[workload]
    a = digest(make(7, 0))
    assert a == digest(make(7, 0))
    assert a != digest(make(8, 0))
    assert a != digest(make(7, 1))


def test_pair_id_matches_spark_xxhash64():
    # published XXH64 vectors, then values Spark 4.1 returned for
    # xxhash64(concat('S2/', s2), concat('L8/', hls)) (short, mid, >32 bytes)
    assert gen.xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert gen.xxh64(b"abc", 0) == 0x44BC2CF5AD770999
    assert gen.xxh64(b"Nobody inspects the spammish repetition", 0) == 0xFBCEA83C8A378BF1
    assert gen.pair_id("a", "b") == 194570795817747356
    assert gen.pair_id("20230104T044201_20230104T044201_T46RCT",
                       "HLS.L30.T46RCT.2023001T042927.v2.0") == 1749198352045816708
    assert gen.pair_id("x" * 70, "") == -3377954100502023375


def _crop_rows(hr, lr, r, c, batch, scale):
    half, ls = batch // 2, batch // scale
    r0, c0 = r - half, c - half
    return (
        [hr[b, r0 : r0 + batch, c0 : c0 + batch].ravel() for b in range(4)],
        [lr[b, r0 // scale : r0 // scale + ls, c0 // scale : c0 // scale + ls].ravel()
         for b in range(4)],
    )


_LF = pa.list_(pa.list_(pa.float32()))


def _write_scene_output(sh, ref, path, corrupt=None):
    p = gen.SCENE
    names = {gen.pair_id(a, b): (a, b) for a, b in ref["pairs"]}
    rows = sorted(names[k[0]] + k[1:] for k in ref["crops"])
    if corrupt == "drop":
        rows = rows[1:]
    hrs, lrs = [], []
    for s2, h, r, c in rows:
        hp, lp = _crop_rows(sh["rasters"][s2], sh["rasters"][h], r, c, p["batch"], p["scale"])
        hrs.append(hp)
        lrs.append(lp)
    if corrupt == "pixel":
        hrs[0][2] = hrs[0][2].copy()
        hrs[0][2][5] += 1.0
    if corrupt == "band_order":
        lrs[0] = lrs[0][::-1]
    gen.write_parquet(pa.table({
        "pair_id": pa.array([gen.pair_id(k[0], k[1]) for k in rows], pa.int64()),
        "center_r": pa.array([k[2] for k in rows], pa.int32()),
        "center_c": pa.array([k[3] for k in rows], pa.int32()),
        "hr_pixels": pa.array(hrs, _LF), "lr_pixels": pa.array(lrs, _LF),
    }), path)


def _scene_sums(sh, ref, corrupt=None):
    """What a traced pass counts at the stacking boundary."""
    sums = [(a, b, *map(float, sh["rasters"][a].astype(np.float64).sum(axis=(1, 2))),
             *map(float, sh["rasters"][b].astype(np.float64).sum(axis=(1, 2))))
            for a, b in ref["pairs"]]
    if corrupt == "stack":
        sums[0] = sums[0][:3] + (sums[0][3] + 1.0,) + sums[0][4:]
    if corrupt == "lost_pair":
        sums = sums[1:]
    return sums


@pytest.mark.parametrize("corrupt", [None, "drop", "pixel", "band_order", "stack", "lost_pair"])
def test_scene_check_catches_corruption(tmp_path, corrupt):
    sh = gen.scene_shard(3, 0)
    shard = {"ref": gen.scene_reference(sh)}
    out = str(tmp_path / "out")
    _write_scene_output(sh, shard["ref"], out, corrupt)
    counts = {"stacking.scene_sums": _scene_sums(sh, shard["ref"], corrupt)}
    bad, _ = workloads.scene_check(shard, out, counts)
    assert (bad == []) == (corrupt is None), bad
    # an untraced pass counts nothing, so only the crops are checked
    bad, _ = workloads.scene_check(shard, out, {})
    assert (bad == []) == (corrupt in (None, "stack", "lost_pair")), bad


def test_prediction_table_covers_the_declared_metrics():
    # BENCHMARK.json declares the metrics; layers.json predicts, per
    # metric, on which of the benchmark's workloads it moves
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(root, "perfbench", "layers.json")) as f:
        pred = json.load(f)["predictions"]
    assert list(pred) == [m["name"] for m in bench["per_layer"]]
    kept = {w["name"] for w in bench["workloads"]}
    ends = {m["name"] for m in bench["end_to_end"]}
    for name, p in pred.items():
        assert p["mostly_on"] and set(p["mostly_on"] + p["little_on"]) <= kept, name
        assert set(p["moves"]) <= ends, name


def _write_corpus_output(shard, out, corrupt=None):
    ref = shard["ref"]
    sets = ref["sets"]
    log = []
    for a, b in ref["near"]:
        inter = len(sets[a] & sets[b])
        log.append((max(a, b), min(a, b), "near", inter / len(sets[a] | sets[b])))
    for a, b in ref["contain"]:
        inter = len(sets[a] & sets[b])
        small = b if len(sets[b]) < len(sets[a]) else a
        log.append((small, a + b - small, "contain", inter / min(len(sets[a]), len(sets[b]))))
    if corrupt == "score":
        log[0] = log[0][:3] + (log[0][3] + 1e-9,)
    removed = {r[0] for r in log}
    curated = sorted(ref["survivors"] - removed)
    if corrupt == "lost_doc":
        curated = curated[1:]
    gen.write_parquet(pa.table({"doc_id": pa.array(curated, pa.int64())}),
                      os.path.join(out, "curated"))
    gen.write_parquet(pa.table({
        "doc_id": pa.array([r[0] for r in log], pa.int64()),
        "partner": pa.array([r[1] for r in log], pa.int64()),
        "kind": [r[2] for r in log], "score": [r[3] for r in log],
    }), os.path.join(out, "removed"))
    with open(os.path.join(out, "topk.tsv"), "w") as f:
        for q, nb in ref["queries"].items():
            hits = sorted(nb)[: 1 if corrupt == "recall" else None]
            for k, c in enumerate(hits, start=1):
                f.write(f"{q}\t{k}\t{c}\n")


@pytest.mark.parametrize("corrupt", [None, "score", "lost_doc", "recall"])
def test_corpus_check_catches_corruption(tmp_path, corrupt):
    sh = gen.corpus_shard(3, 0)
    shard = {"ref": gen.corpus_reference(sh)}
    out = str(tmp_path)
    _write_corpus_output(shard, out, corrupt)
    bad, info = workloads.corpus_check(shard, out, {})
    assert (bad == []) == (corrupt is None), bad
    if corrupt is None:
        assert info["planted_recall"] == 1.0 and info["recall_at_10"] == 1.0
