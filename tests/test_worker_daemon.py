"""Local Python workers start from the engine's daemon
(``_daemon.py``): the zip-archive import finders they inherit are
static, so PySpark's per-task ``importlib.invalidate_caches()`` no longer
re-reads pyspark.zip and the spark-core jar on every task. No wall-clock
assertions: the checks are on what a worker holds."""

from __future__ import annotations

import subprocess
import sys
import textwrap
import uuid
import zipfile
from pathlib import Path

import pyarrow as pa

from sentinel_landsat_database_creation_spark.session import session_conf

REPO = Path(__file__).resolve().parents[1]
DAEMON = "sentinel_landsat_database_creation_spark._daemon"


def _finder_report():
    """A mapInArrow body reporting the import hooks and archive finders
    of the worker that runs the task (nested, so it pickles by value)."""

    def report(batches):
        import sys
        import zipimport

        for _ in batches:
            pass
        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        yield pa.RecordBatch.from_pylist([{
            "plain_hooks": sum(
                h is zipimport.zipimporter for h in sys.path_hooks
            ),
            "zip_finders": len(zips),
            "finder_types": ",".join(sorted({type(f).__name__ for f in zips})),
        }])

    return report


_REPORT_SCHEMA = "plain_hooks long, zip_finders long, finder_types string"


def test_workers_hold_static_zip_finders(spark):
    rows = (
        spark.range(4, numPartitions=4)
        .mapInArrow(_finder_report(), _REPORT_SCHEMA)
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.plain_hooks == 0
        # pyspark.zip and the spark-core jar are always on a worker's path
        assert r.zip_finders > 0
        assert r.finder_types == "StaticZipImporter"


def test_add_py_file_zip_imports_in_next_task(spark, tmp_path):
    """A zip shipped after the daemon is up lands on a new path, so its
    finder is built fresh and reads the archive's directory."""
    spark.range(1).mapInArrow(_finder_report(), _REPORT_SCHEMA).collect()
    mod = f"graft_addpy_{uuid.uuid4().hex[:12]}"
    archive = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{mod}/__init__.py", "VALUE = 4242\n")
    spark.sparkContext.addPyFile(str(archive))

    def load(batches):
        import importlib

        for _ in batches:
            pass
        value = importlib.import_module(mod).VALUE
        yield pa.RecordBatch.from_pylist([{"value": value}])

    rows = spark.range(2, numPartitions=2).mapInArrow(load, "value long").collect()
    assert [r.value for r in rows] == [4242, 4242]


def test_live_local_session_uses_engine_daemon(spark):
    assert spark.sparkContext.master.startswith("local")
    assert spark.conf.get("spark.python.daemon.module") == DAEMON


def test_daemon_conf_only_for_local_masters():
    for master in ("local", "local[1]", "local[*]", "local[4,2]"):
        assert session_conf(master, 8)["spark.python.daemon.module"] == DAEMON
    # cluster workers do not inherit the driver's PYTHONPATH
    for master in (
        "spark://host:7077", "yarn", "k8s://https://host:6443",
        "local-cluster[2,1,1024]",
    ):
        assert "spark.python.daemon.module" not in session_conf(master, 8)


def test_fresh_session_keeps_daemon_conf(tmp_path):
    """bench.py's revival path: stop a session, reset pyspark's
    singletons, start anew. The new session and its workers still use
    the daemon. Runs in its own interpreter so the shared test session
    stays alive."""
    script = textwrap.dedent(f"""
        import runpy, sys
        sys.path.insert(0, {str(REPO)!r})
        from sentinel_landsat_database_creation_spark.session import (
            fresh_session, get_spark,
        )

        probe = runpy.run_path({__file__!r})
        first = get_spark(app_name="daemon-a", master="local[1]",
                          shuffle_partitions=1)
        spark = fresh_session("daemon-b", shuffle_partitions=1,
                              master="local[1]")
        assert spark is not first
        assert spark.conf.get("spark.python.daemon.module") == {DAEMON!r}
        (r,) = spark.range(1).mapInArrow(
            probe["_finder_report"](), probe["_REPORT_SCHEMA"]
        ).collect()
        assert r.plain_hooks == 0 and r.zip_finders > 0, r
        assert r.finder_types == "StaticZipImporter", r
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
