"""The two workloads: shard set-up, one pass, and the output check.

A pass calls the package's public functions in the order a user of the
pipeline would. The untraced pass calls the composite entry points
(``build_scene_pairs``, ``build_crop_dataset``) as they are; the traced
pass calls the same public building blocks those composites are made
of, in the same order, and materializes each layer's output at its
boundary so a span covers exactly one layer. Both passes go through the
same output check, so a traced pass that drifted from the composite
would fail it.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

# ---------------------------------------------------------------------------
# helpers


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))
    )


def _read(path: str) -> pa.Table:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pa.concat_tables([pq.read_table(f) for f in files]) if files else None


def _band_sums(col) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-row, per-band (finite-sum, inf-count) of a list<list<float>>
    column, plus each row's band count."""
    arr = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    outer = np.asarray(arr.offsets)
    bands = arr.values
    inner = np.asarray(bands.offsets)
    vals = bands.values.to_numpy(zero_copy_only=False).astype(np.float64)
    inf = np.isinf(vals)
    cs = np.concatenate([[0.0], np.cumsum(np.where(inf, 0.0, vals))])
    ci = np.concatenate([[0], np.cumsum(inf)])
    lo, hi = inner[:-1], inner[1:]
    return cs[hi] - cs[lo], ci[hi] - ci[lo], np.diff(outer)


def _rows_by_band(sums, n_bands, per_row):
    if not np.all(n_bands == per_row):
        raise ValueError("crop with a wrong band count")
    return sums.reshape(-1, per_row)


# ---------------------------------------------------------------------------
# scene_ingest


def scene_setup(spark, root: str, seed: int, shards: int) -> list[dict]:
    """Write every shard's band rasters as GeoTIFF trees
    ``<shard>/{S2,L8}/<scene>/<scene>_<band>.tif`` (plus one QA decoy per
    scene) with ``tiffcodec.encode_gray``, the encoder
    ``sources.raster.encode_rasters`` runs for each row, called here in
    this process so set-up spends no Spark job on it. Each shard lists
    its band files by codec for the single-thread decode measurement."""
    from sentinel_landsat_database_creation_spark.sources.tiffcodec import encode_gray

    out = []
    for k in range(shards):
        sh = gen.scene_shard(seed, k)
        d = os.path.join(root, f"shard{k}")
        by_codec: dict[str, list[str]] = {"raw": [], "lzw": [], "deflate": []}
        for names, sensor, bands in (
            (sh["s2"], "S2", gen.S2_BANDS),
            (sh["hls"], "L8", gen.HLS_BANDS),
        ):
            for name, _w in names:
                px = sh["rasters"][name]
                scene_dir = os.path.join(d, sensor, name)
                os.makedirs(scene_dir)
                files = [(band, px[b], sh["codec"][name]) for b, band in enumerate(bands)]
                files.append((gen.DECOY_BAND, np.zeros_like(px[0]), None))
                for band, raster, codec in files:
                    h, w = raster.shape
                    path = os.path.join(scene_dir, f"{name}_{band}.tif")
                    with open(path, "wb") as f:
                        f.write(encode_gray(h, w, raster.ravel(), compression=codec))
                    if band != gen.DECOY_BAND:
                        by_codec[codec or "raw"].append(path)
        out.append({"dir": d, "ref": gen.scene_reference(sh), "mask": sh["mask"],
                    "digest": gen.scene_digest(sh), "files_by_codec": by_codec})
    return out


def _mask_df(spark, mask: np.ndarray):
    from sentinel_landsat_database_creation_spark.session import local_df

    return local_df(
        spark,
        [(1, int(mask.shape[0]), int(mask.shape[1]), mask.ravel().tolist())],
        "mask_id int, height int, width int, pixels array<float>",
    )


def _scene_cfg():
    from sentinel_landsat_database_creation_spark.plans.satellite import CropConfig

    p = gen.SCENE
    return CropConfig(batch_size=p["batch"], scale=p["scale"],
                      pct_overlap=p["pct"], compat=False)


def scene_pass(spark, shard: dict, out: str, tr) -> None:
    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.operators.stacking import (
        LANDSAT_BANDS, SENTINEL_BANDS, band_rank, filter_band_files,
    )
    from sentinel_landsat_database_creation_spark.plans.satellite import (
        build_crop_dataset, build_pair_tensors, build_scene_pairs,
    )
    from sentinel_landsat_database_creation_spark.sources.raster import (
        decode_rasters, scene_file_listing,
    )

    d = shard["dir"]
    with tr.span("raster.list"):
        listed = {
            s: tr.boundary(f"raster.list.{s}", scene_file_listing(spark, f"{d}/{s}"))
            for s in ("S2", "L8")
        }
        tr.later("raster.input_bytes", lambda: sum(
            r[0] for s in listed.values() for r in s.agg(F.sum("length")).collect()))
        s2f = filter_band_files(listed["S2"], SENTINEL_BANDS)
        hlsf = filter_band_files(listed["L8"], LANDSAT_BANDS)
    with tr.span("raster.decode"):
        s2r = tr.boundary("raster.decode.S2", decode_rasters(s2f).withColumn(
            "band_rank", band_rank(F.col("band"), SENTINEL_BANDS)))
        hlsr = tr.boundary("raster.decode.L8", decode_rasters(hlsf).withColumn(
            "band_rank", band_rank(F.col("band"), LANDSAT_BANDS)))
        tr.later("raster.decoded_px", lambda: sum(
            r[0] for x in (s2r, hlsr)
            for r in x.agg(F.sum(F.col("height") * F.col("width"))).collect()))

    def listing(files):
        return files.select(F.col("scene").alias("data")).distinct()

    if tr.on:
        pairs = _traced_scene_pairs(tr, listing(s2f), listing(hlsf))
    else:
        pairs = build_scene_pairs(listing(s2f), listing(hlsf))
    with tr.span("stacking"):
        tensors = tr.boundary("stacking", build_pair_tensors(pairs, s2r, hlsr))
    mask = _mask_df(spark, shard["mask"])
    if tr.on:
        crops = _traced_crops(tr, tensors, mask, _scene_cfg())
    else:
        crops = build_crop_dataset(tensors, mask, _scene_cfg())
    with tr.span("sink.write"):
        crops.write.mode("overwrite").parquet(out)
    # per-scene band sums of the stacked tensors, for the stack check
    tr.later("stacking.scene_sums", lambda: [tuple(r) for r in tensors.select(
        "s2_scene", "hls_scene",
        *[F.aggregate(F.col(c)[b], F.lit(0.0).cast("double"),
                      lambda a, x: a + x.cast("double")).alias(f"{c}{b}")
          for c in ("hr_bands", "lr_bands") for b in range(4)],
    ).collect()])


def _traced_scene_pairs(tr, s2_listing, hls_listing):
    """build_scene_pairs with a span per layer: catalog, then pairing."""
    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.functions.dates import (
        GOLDEN_GRID, hls_date, s2_date,
    )
    from sentinel_landsat_database_creation_spark.operators.catalog import build_catalog
    from sentinel_landsat_database_creation_spark.operators.pairing import pair_catalogs

    with tr.span("catalog"):
        s2_cat = tr.boundary("catalog.S2", build_catalog(
            s2_listing, s2_date(F.col("data")), "S2", GOLDEN_GRID, keep_week=True))
        hls_cat = tr.boundary("catalog.L8", build_catalog(
            hls_listing, hls_date(F.col("data")), "L8", GOLDEN_GRID, keep_week=True))
    with tr.span("pairing"):
        pairs = pair_catalogs(s2_cat, hls_cat)
        exploded = pairs.select(
            F.col("data_1").alias("s2_path"), F.explode("data_2").alias("hls_path"))
        return tr.boundary("pairing", exploded.select(
            F.xxhash64("s2_path", "hls_path").alias("pair_id"),
            F.element_at(F.split("s2_path", "/"), -1).alias("s2_scene"),
            F.element_at(F.split("hls_path", "/"), -1).alias("hls_scene"),
        ))


def _traced_crops(tr, tensors, mask, cfg):
    """build_crop_dataset (grid suppression) with a span per phase:
    slice + quality gate, suppression, survivor re-slice."""
    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.operators.crops import (
        candidate_centers, quality_flag, slice_crop_pairs, suppress_overlap_grid,
    )

    with tr.span("crops.slice"):
        centers = candidate_centers(mask, cfg.batch_size, compat_bounds=cfg.compat)
        meta = tr.boundary("crops.slice", slice_crop_pairs(
            tensors, centers, cfg.batch_size, cfg.scale
        ).withColumn(
            "ok", quality_flag(cfg.batch_size, cfg.scale, compat=cfg.compat)
        ).select("pair_id", "mask_id", "ord", "r", "c", "ok"))
        tr.later("crops.quality_ok", meta.filter(F.col("ok")).count)
    with tr.span("crops.suppress"):
        kept = tr.boundary("crops.suppress", suppress_overlap_grid(
            meta.filter(F.col("ok")), cfg.batch_size, cfg.pct_overlap))
    with tr.span("crops.reslice"):
        survivors = kept.select("pair_id", F.lit(0).alias("ord"), "r", "c")
        return tr.boundary("crops.reslice", slice_crop_pairs(
            tensors, survivors, cfg.batch_size, cfg.scale
        ).select(
            "pair_id",
            F.col("r").alias("center_r"),
            F.col("c").alias("center_c"),
            F.col("hr_crop").alias("hr_pixels"),
            F.col("lr_crop").alias("lr_pixels"),
            F.lit(cfg.batch_size).alias("hr_size"),
            F.lit(cfg.batch_size // cfg.scale).alias("lr_size"),
        ))


def scene_check(shard: dict, out: str, counts: dict) -> tuple[list[str], dict]:
    """The crops against the reference; on a traced pass, which counts
    the stacked tensors' per-scene band sums, the stack as well."""
    bad = _crop_check(shard["ref"], _read(out))
    if "stacking.scene_sums" in counts:
        bad += _stack_check(shard["ref"], counts["stacking.scene_sums"])
    return bad, {}


def _stack_check(ref: dict, scene_sums) -> list[str]:
    """The stacked pair set, and each pair's per-band sums against its
    two scenes' rasters."""
    st = ref["stack"]
    bad = [
        f"stack sums differ for {a}/{b}"
        for a, b, *v in scene_sums
        if tuple(v[:4]) != st.get(a) or tuple(v[4:]) != st.get(b)
    ]
    if sorted((a, b) for a, b, *_v in scene_sums) != ref["pairs"]:
        bad.append(f"stacked pair set differs: {len(scene_sums)} rows, "
                   f"want {len(ref['pairs'])}")
    return bad


def _crop_check(ref: dict, t) -> list[str]:
    if t is None:
        return ["no crop output"]
    hs, _, hn = _band_sums(t.column("hr_pixels"))
    ls, _, ln = _band_sums(t.column("lr_pixels"))
    hs, ls = _rows_by_band(hs, hn, 4), _rows_by_band(ls, ln, 4)
    got = {
        (int(p), int(r), int(c)): tuple(h) + tuple(lo)
        for p, r, c, h, lo in zip(
            t.column("pair_id").to_pylist(),
            t.column("center_r").to_pylist(), t.column("center_c").to_pylist(),
            hs.tolist(), ls.tolist())
    }
    bad = []
    if len(got) != t.num_rows:
        bad.append("duplicate crop rows")
    want_pairs = {k[0] for k in ref["crops"]}
    got_pairs = {k[0] for k in got}
    if got_pairs != want_pairs:
        bad.append(f"pair set differs: {len(got_pairs ^ want_pairs)} pairs")
    if set(got) != set(ref["crops"]):
        bad.append(f"crop centres differ: {len(set(got) ^ set(ref['crops']))} crops")
    elif any(got[k] != ref["crops"][k] for k in got):
        bad.append("crop pixel digest differs")
    return bad


# ---------------------------------------------------------------------------
# corpus_curation


def corpus_setup(spark, root: str, seed: int, shards: int) -> list[dict]:
    """Documents and embeddings per shard. The shards share one model
    slot: the first pass trains the IVFPQ quantizers on its embeddings
    (what a one-shot user runs), and later passes index their shard with
    those quantizers (a deployment trains once and indexes every new
    corpus shard)."""
    model: dict = {}
    out = []
    for k in range(shards):
        sh = gen.corpus_shard(seed, k)
        d = os.path.join(root, f"shard{k}")
        gen.write_parquet(
            pa.table({"doc_id": sh["doc_ids"], "text": sh["texts"]}),
            os.path.join(d, "docs"),
        )
        gen.write_parquet(
            pa.table({
                "vec_id": sh["vec_ids"],
                "embedding": pa.array(list(sh["vecs"]), pa.list_(pa.float32())),
            }),
            os.path.join(d, "emb"),
        )
        ref = gen.corpus_reference(sh)
        out.append({"dir": d, "ref": ref, "queries": sorted(ref["queries"]),
                    "digest": gen.corpus_digest(sh), "model": model})
    return out


def corpus_pass(spark, shard: dict, out: str, tr) -> None:
    from pyspark.sql import functions as F

    from sentinel_landsat_database_creation_spark.operators.ann_index import (
        ann_index_probe, ann_index_write,
    )
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        containment_pairs, exact_dedup, neardup_pipeline,
    )
    from sentinel_landsat_database_creation_spark.operators.similarity import (
        train_centroids, train_pq_codebooks,
    )

    d = shard["dir"]
    docs = spark.read.parquet(os.path.join(d, "docs"))
    emb = spark.read.parquet(os.path.join(d, "emb"))
    with tr.span("dedup.exact"):
        keep = exact_dedup(docs, ["text"], "doc_id").select(
            F.col("keep_doc_id").alias("doc_id"))
        uniq = tr.boundary("dedup.exact", docs.join(keep, "doc_id"))
    with tr.span("dedup.lsh"):
        near = tr.boundary("dedup.lsh", neardup_pipeline(
            uniq, n=gen.NGRAM, n_hashes=gen.N_HASHES, bands=gen.BANDS,
            threshold=gen.NEAR_T))
    with tr.span("dedup.containment"):
        cont = tr.boundary("dedup.containment", containment_pairs(
            uniq, n=gen.NGRAM, n_hashes=gen.N_HASHES, bands=gen.BANDS,
            threshold=gen.CONTAIN_T, probe_small_max=gen.SMALL_MAX))
    model = shard["model"]
    if "quantizers" not in model:
        t = time.perf_counter()
        with tr.span("ann.train"):
            model["quantizers"] = (
                train_centroids(emb, n_centroids=16, n_iters=gen.TRAIN_ITERS),
                train_pq_codebooks(emb, m=4, n_sub_centroids=16, n_iters=gen.TRAIN_ITERS),
            )
        model["train_s"] = time.perf_counter() - t
    coarse, books = model["quantizers"]
    with tr.span("ann.write"):
        ann_index_write(emb, os.path.join(out, "ann"), coarse, books, m=4)
    with tr.span("ann.probe"):
        q = emb.filter(F.col("vec_id").isin(shard["queries"]))
        top = ann_index_probe(spark, q, os.path.join(out, "ann"),
                              k=gen.TOPK, nprobe=gen.NPROBE).collect()
    small = F.when(F.col("n_a") < F.col("n_b"), F.col("doc_a")).when(
        F.col("n_b") < F.col("n_a"), F.col("doc_b")
    ).otherwise(F.greatest("doc_a", "doc_b"))
    removed = near.select(
        F.greatest("doc_a", "doc_b").alias("doc_id"),
        F.least("doc_a", "doc_b").alias("partner"),
        F.lit("near").alias("kind"),
        F.col("jaccard").alias("score"),
    ).unionByName(cont.select(
        small.alias("doc_id"),
        (F.col("doc_a") + F.col("doc_b") - small).alias("partner"),
        F.lit("contain").alias("kind"),
        F.col("cont_max").alias("score"),
    ))
    with tr.span("sink.write"):
        # the removal log lands first; the curated corpus is the survivors
        # minus the logged ids, read back, so no pair stage runs twice
        removed.write.mode("overwrite").parquet(os.path.join(out, "removed"))
        logged = spark.read.parquet(os.path.join(out, "removed")).select("doc_id")
        curated = uniq.join(logged, "doc_id", "left_anti")
        curated.write.mode("overwrite").parquet(os.path.join(out, "curated"))
    with open(os.path.join(out, "topk.tsv"), "w") as f:
        f.writelines(f"{r['qid']}\t{r['rnk']}\t{r['cid']}\n" for r in top)
    tr.later("dedup.lsh_candidates", lambda: _lsh_candidates(uniq))


def _lsh_candidates(uniq) -> int:
    """MinHash-LSH candidate pairs at the pipeline's parameters."""
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        minhash_lsh_candidates, shingle_rows_materialized,
    )

    return minhash_lsh_candidates(
        uniq, n=gen.NGRAM, n_hashes=gen.N_HASHES, bands=gen.BANDS,
        shingle_rows=shingle_rows_materialized(uniq, gen.NGRAM)).count()


def corpus_check(shard: dict, out: str, counts: dict) -> tuple[list[str], dict]:
    ref = shard["ref"]
    bad = []
    cur = _read(os.path.join(out, "curated"))
    rem = _read(os.path.join(out, "removed"))
    if cur is None:
        return ["no curated output"], {}
    curated = cur.column("doc_id").to_pylist()
    log = rem.to_pylist() if rem is not None else []
    removed = {r["doc_id"] for r in log}
    if len(set(curated)) != len(curated):
        bad.append("duplicate curated documents")
    if set(curated) | removed != ref["survivors"] or set(curated) & removed:
        bad.append("curated + removed != exact-dedup survivors")
    sets = ref["sets"]
    found = {"near": set(), "contain": set()}
    for r in log:
        a, b = sets.get(r["doc_id"]), sets.get(r["partner"])
        if a is None or b is None:
            bad.append(f"removal names a non-survivor {r['doc_id']}/{r['partner']}")
            break
        inter = len(a & b)
        want = inter / len(a | b) if r["kind"] == "near" else inter / min(len(a), len(b))
        thr = gen.NEAR_T if r["kind"] == "near" else gen.CONTAIN_T
        if r["score"] != want or want < thr:
            bad.append(f"{r['kind']} score {r['score']} != {want} for {r['doc_id']}")
            break
        found[r["kind"]].add(tuple(sorted((r["doc_id"], r["partner"]))))
    near_hit = sum(tuple(sorted(p)) in found["near"] for p in ref["near"])
    cont_hit = sum(tuple(sorted(p)) in found["contain"] for p in ref["contain"])
    if near_hit < gen.NEAR_RECALL_FLOOR * len(ref["near"]):
        bad.append(f"near-dup recall {near_hit}/{len(ref['near'])}")
    if cont_hit != len(ref["contain"]):
        bad.append(f"containment recall {cont_hit}/{len(ref['contain'])}")
    top: dict[int, set] = {}
    with open(os.path.join(out, "topk.tsv")) as f:
        for line in f:
            q, _r, c = (int(x) for x in line.split("\t"))
            top.setdefault(q, set()).add(c)
    hits = sum(len(top.get(q, set()) & nb) for q, nb in ref["queries"].items())
    total = sum(len(nb) for nb in ref["queries"].values())
    recall = hits / total
    if recall < gen.ANN_RECALL_FLOOR:
        bad.append(f"ANN recall@{gen.TOPK} {recall:.3f} < {gen.ANN_RECALL_FLOOR}")
    planted = len(ref["near"]) + len(ref["contain"])
    return bad, {
        "planted_recall": (near_hit + cont_hit) / planted,
        "recall_at_10": recall,
        "verified_near": len(found["near"]),
        "containment_pairs": len(found["contain"]),
    }


# ---------------------------------------------------------------------------

WORKLOADS = {
    "scene_ingest": {
        "setup": scene_setup, "pass": scene_pass, "check": scene_check,
        "items": lambda ref: len(ref["pairs"]), "item_unit": "scene pairs",
        "sink": lambda out: [out],
    },
    "corpus_curation": {
        "setup": corpus_setup, "pass": corpus_pass, "check": corpus_check,
        "items": lambda ref: ref["docs"], "item_unit": "documents",
        "sink": lambda out: [os.path.join(out, "curated"), os.path.join(out, "removed")],
    },
}
