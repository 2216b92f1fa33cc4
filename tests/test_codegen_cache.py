"""A warm pass reuses the whole-stage classes an earlier pass compiled.

Spark caches generated classes per (source, class loader) in one
JVM-wide cache of ``spark.sql.codegen.cache.maxEntries``. At Spark's
default of 100 a warm ``corpus_curation`` pass (about 123 classes)
evicted every class before its next use and recompiled all of them.
``session.session_conf`` sizes the cache for every master and keeps the
codegen stage id out of class names, so the checks here are on the
session defaults and on Spark's own compile counter, not on wall time.
"""

from __future__ import annotations

import random
import subprocess
import sys
import textwrap
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from sentinel_landsat_database_creation_spark.session import session_conf

REPO = Path(__file__).resolve().parents[1]
CACHE = {
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.sql.codegen.useIdInClassName": "false",
}
# Compilations a repeat may still need: AQE picks the small-side
# probe's join strategy (containment_pairs) from whichever shuffle
# stages have finished when it re-plans, so the broadcast shape can
# first appear on any pass. It adds two stage classes, compiled once
# per class loader (driver and task) the first time it appears.
AQE_FLIP_COMPILES = 4


def _compile_count(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_conf_sizes_cache_for_every_master():
    for master in (
        "local", "local[1]", "local[*]", "local[4,2]",
        "spark://host:7077", "yarn", "k8s://https://host:6443",
        "local-cluster[2,1,1024]",
    ):
        conf = session_conf(master, 8)
        assert {k: conf[k] for k in CACHE} == CACHE, master


def test_live_session_reports_cache_size(spark):
    for k, v in CACHE.items():
        assert spark.conf.get(k) == v


def test_fresh_session_keeps_cache_size(tmp_path):
    """bench.py's revival path starts a new JVM through
    ``fresh_session``; its codegen cache gets the same size. Runs in
    its own interpreter so the shared test session stays alive."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from sentinel_landsat_database_creation_spark.session import (
            fresh_session, get_spark,
        )

        first = get_spark(app_name="cg-a", master="local[1]",
                          shuffle_partitions=1)
        spark = fresh_session("cg-b", shuffle_partitions=1, master="local[1]")
        assert spark is not first
        for k, v in {CACHE!r}.items():
            assert spark.conf.get(k) == v, (k, spark.conf.get(k))
        spark.stop()
        print("OK")
    """)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, capture_output=True,
        text=True, timeout=300,
    )
    assert out.returncode == 0 and out.stdout.strip().endswith("OK"), (
        out.stdout[-2000:] + out.stderr[-4000:]
    )


def _write_corpus(path: Path, seed: int) -> None:
    """80 documents with planted near-duplicates and excerpts. Document
    lengths and the planting pattern are fixed; only the words depend
    on ``seed``, so two corpora plan alike but share no memo entry."""
    shape, words = random.Random(0), random.Random(seed)
    docs = [
        [f"w{words.randrange(600)}" for _ in range(shape.randrange(30, 60))]
        for _ in range(60)
    ]
    for i in range(0, 20, 2):
        near = list(docs[i])
        near[3] = near[7] = f"w{words.randrange(600)}"
        docs.append(near)
        docs.append(docs[i + 1][5:17])
    path.mkdir()
    pq.write_table(pa.table({
        "doc_id": pa.array(range(1000, 1000 + len(docs)), pa.int64()),
        "text": [" ".join(d) for d in docs],
    }), path / "docs.parquet")


def _curate(spark, path: Path) -> tuple[int, int]:
    from sentinel_landsat_database_creation_spark.operators.dedup import (
        containment_pairs, neardup_pipeline,
    )

    docs = spark.read.parquet(str(path))
    near = neardup_pipeline(docs, n=2, n_hashes=8, bands=4, threshold=0.7)
    cont = containment_pairs(docs, n=2, n_hashes=8, bands=4, threshold=0.8,
                             probe_small_max=30)
    return len(near.collect()), len(cont.collect())


def test_warm_repeat_compiles_nothing_new(spark, tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    _write_corpus(a, 1)
    _write_corpus(b, 2)
    first = _curate(spark, a)
    before = _compile_count(spark)
    second = _curate(spark, b)
    compiled = _compile_count(spark) - before
    # the planted duplicates are found in both corpora
    assert min(first + second) > 0, (first, second)
    assert compiled <= AQE_FLIP_COMPILES, (
        f"the repeat compiled {compiled} generated classes")
