"""SparkSession factory.

Defaults are sized for the test harness (local[N], 32 shuffle partitions)
but every knob matters at cluster scale:

- AQE on: runtime coalescing of small shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching are what keep the 100 TB
  plans healthy without hand-tuning per stage.
- Arrow on: every pandas-UDF boundary (raster decode, greedy dedup group
  map) moves columnar batches, not pickled rows.
- UTC session timezone: the epoch-aligned 7-day tumbling windows
  (SURVEY.md §1.4) must bin identically on every executor and match the
  DuckDB oracle.
- maxPartitionBytes / shuffle.partitions are exposed so callers can size
  partitions to executor memory at the target scale factor.
- Local masters start their Python workers from ``_daemon.py``, which
  keeps Spark's zip-archive import finders static: without it every
  Python task re-reads pyspark.zip and the spark-core jar (~0.2 s).
- Generated classes must outlive a pass. Spark caches whole-stage
  classes per (source, class loader), and local mode compiles each one
  twice (driver and task loaders). A warm ``corpus_curation`` pass uses
  about 123 classes (a first pass 193-206 with stage ids in class
  names, 167 without; ``scene_ingest`` 51-55), more than Spark's
  default cache of 100: at that size every warm pass recompiled
  118-124 of them (1.3-1.6 s of Janino on 4 vCPU). The cache holds
  1000. Class names carry no codegen stage id because AQE numbers
  stages in the order it re-plans them: one timing-dependent join
  choice would renumber, and so recompile, every later stage of its
  query.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "sentinel-landsat-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-aware defaults."""
    master = master or os.environ.get(
        "SPARK_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    )
    # Python workers resolve imports via PYTHONPATH, not the driver's
    # sys.path — make the engine importable on them regardless of cwd.
    repo_root = str(Path(__file__).resolve().parents[1])
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = session_conf(master, shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS)
    for k, v in {**conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_conf(master: str, shuffle_partitions: int) -> dict[str, str]:
    """The session defaults ``get_spark`` applies before ``extra_conf``."""
    # Negative result, measured (keep the default 1g local-mode heap):
    # raising spark.driver.memory to 16g made the blocked all-pairs
    # cosine fold 7x SLOWER at sf0.1 (39s vs 5.6s A/B, same data) — the
    # small heap keeps the hot arrays cache-resident; a big young gen
    # spreads them out. GCLocker retry warnings under the 1g heap are
    # benign here. On a real cluster size spark.executor.memory to the
    # per-partition working set instead.
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        # a pass's distinct generated classes must fit (module docstring)
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.sql.codegen.useIdInClassName": "false",
        "spark.ui.enabled": "false",
        # testdata events.parquet carries TIMESTAMP(NANOS); surface it as
        # long nanos instead of failing the scan (sources.testdata converts)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.driver.extraJavaOptions": "-Duser.timezone=UTC",
        "spark.executor.extraJavaOptions": "-Duser.timezone=UTC",
    }
    # Local workers inherit the PYTHONPATH get_spark sets, so they can
    # start from the engine's daemon (static zip import finders, see
    # _daemon.py); a cluster's workers keep pyspark's own daemon.
    if master == "local" or master.startswith("local["):
        conf["spark.python.daemon.module"] = (
            "sentinel_landsat_database_creation_spark._daemon"
        )
    return conf


def context_dead(spark: SparkSession) -> bool:
    """True when the backing SparkContext (or its py4j gateway) is gone."""
    try:
        return spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # noqa: BLE001 — a dead py4j gateway IS "dead"
        return True


def reset_pyspark_singletons() -> list[str]:
    """Clear pyspark's process-global session/context caches so
    getOrCreate can launch a genuinely fresh JVM (needed after an
    OOM-killed gateway, and by harnesses that want per-measurement JVM
    isolation). The resets touch pyspark PRIVATE attributes (not stable
    API), so every one is hasattr-guarded; returns the list of
    internals that were NOT found (empty = full reset) so callers can
    surface a degraded reset after a pyspark upgrade. Shared by
    bench.py's revival path and scripts/bench_scale.py's fresh-session
    path (round-5 ADVICE: the two had drifted)."""
    from pyspark import SparkContext

    missing = [
        a
        for a in ("_lock", "_active_spark_context", "_gateway", "_jvm")
        if not hasattr(SparkContext, a)
    ] + [
        a
        for a in ("_instantiatedSession", "_activeSession")
        if not hasattr(SparkSession, a)
    ]
    if not missing:
        with SparkContext._lock:
            SparkContext._active_spark_context = None
            SparkContext._gateway = None
            SparkContext._jvm = None
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
    return missing


def fresh_session(
    app_name: str,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Stop any active session, reset the process-global caches
    (guarded), build a new session, and VERIFY it is alive — a pyspark
    upgrade that breaks the private-attr reset raises here instead of
    letting a dead session cascade errors through the caller's run."""
    import sys

    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    except Exception:  # noqa: BLE001
        pass
    missing = reset_pyspark_singletons()
    if missing:
        print(
            f"session: pyspark internals moved ({missing}); reset degraded",
            file=sys.stderr,
        )
    spark = get_spark(
        app_name=app_name,
        shuffle_partitions=shuffle_partitions,
        extra_conf=extra_conf,
        master=master,
    )
    if context_dead(spark):
        raise RuntimeError(
            "fresh session is dead after reset (pyspark internals "
            "changed?); failing loudly instead of cascading errors"
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def local_df(spark: SparkSession, rows, schema: str, slices: int = 1):
    """A small driver-side literal DataFrame in ``slices`` parallelize
    slice(s) — the engine's replacement for ``spark.createDataFrame(
    list, schema)`` on literal frames (centroids, codebooks, lexicons,
    mixture plans, merge tables).

    Why: the list overload parallelizes into defaultParallelism slices
    (32 here), and every downstream evaluation runs one Python-worker
    task PER SLICE. Literal frames are broadcast/build-side by
    construction, so one slice is right at every scale — the rows
    already sit on the driver, and the first thing every consumer does
    is ship them to executors whole. The analyzed plan is
    ``LogicalRDD`` through both paths, so plan snapshots and driver
    hashes are unaffected.

    Cost (4 vCPU, local workers on ``_daemon.py``): one evaluation of a
    16-row frame (``collect``) takes ~0.1 s, the fixed cost of a Spark
    job with one Python task; an Arrow-built ``LocalRelation`` of the
    same rows, ~5 ms. The same frame under ``coalesce(1).write`` takes
    1.55 s in 32 slices against 0.16 s in one, ~45 ms a slice. The
    r13 figure of ~0.17 s a slice (5.7 s for 32) was mostly each
    task's zip import-cache rebuild, which ``_daemon.py`` removed.
    """
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), schema
    )


def session_tmp_path(spark: SparkSession, name: str) -> str:
    """A scratch path under the system temp dir keyed on the session's
    applicationId (like the memo caches): two concurrent sessions on one
    host (bench + pytest) must never overwrite each other's artifacts
    mid-read, and fixed /tmp names are a squatting hazard on shared
    hosts. Artifacts die with the host's tmp cleanup; within a session
    the path is stable, so per-session write-once guards work."""
    import os
    import tempfile

    app = spark.sparkContext.applicationId
    return os.path.join(tempfile.gettempdir(), f"slc_{app}_{name}")
