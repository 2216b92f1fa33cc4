"""Python-worker daemon for local sessions: ``pyspark.daemon`` with the
zip-archive import finders made static before any worker is forked.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py:setup_spark_files``). In CPython 3.11
``zipimporter.invalidate_caches()`` re-parses the archive's whole central
directory, and a worker's import cache holds one zipimporter per package
path inside ``pyspark.zip`` plus two over the spark-core jar, so every
task re-read the same read-only install archives (~0.2 s a task, against
~3 ms of task body on a 4-vCPU host). Those archives never change while
a session runs; ``FileFinder`` invalidation still runs, and a zip shipped
later by ``addPyFile`` lands on a new path, whose fresh finder reads its
directory when it is built. Forked workers inherit the patch, so it
covers every Python task (``mapIn*``, UDFs, RDD and ``local_df`` frames)
from its first one. ``session.session_conf`` selects this module through
``spark.python.daemon.module`` on local masters.
"""

import sys
import zipimport


class StaticZipImporter(zipimport.zipimporter):
    """A zipimporter that keeps the directory listing it was built with."""

    def invalidate_caches(self):
        pass


def make_zip_finders_static() -> None:
    """Build every future zip finder as a ``StaticZipImporter`` and
    convert the plain ones already cached."""
    sys.path_hooks[:] = [
        StaticZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            sys.path_importer_cache[path] = StaticZipImporter(path)


if __name__ == "__main__":
    make_zip_finders_static()
    import pyspark.daemon

    pyspark.daemon.manager()
