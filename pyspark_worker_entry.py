"""PySpark worker entry: ``pyspark.worker.main`` behind a stat-guarded
zipimport directory cache.

Every Python UDF task runs ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, and a worker holds one zipimporter per package directory of
``pyspark.zip`` and of the Spark jar on its path: 0.18 CPU-s per task,
spent re-reading archives that never change. The guard below re-reads
only when the archive's (inode, size, mtime_ns) differs from the last
time that importer read it, so a zip rewritten or replaced mid-session
is still seen. Python 3.13 only drops the cache entry there, so nothing is
installed.

``session.get_spark`` names this module as ``spark.python.worker.module``.
Spark's daemon ignores a worker module whose name does not start with
``pyspark``, hence the name. It sits beside the package, so any worker
that can import the package can import it.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipimport

from pyspark import worker

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its (inode, size, mtime_ns) changed since this importer last
    did; an archive it cannot stat is re-read every time."""
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_read_at", None):
        _reread(self)
        self._read_at = key


def install() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


def main(infile, outfile) -> None:
    """The daemon's per-worker entry: ``pyspark.worker.main``."""
    install()
    worker.main(infile, outfile)


if __name__ == "__main__":
    # spark.python.use.daemon=false runs the worker module as a script
    install()
    del sys.modules["pyspark.worker"]  # run it afresh, as Spark would
    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
