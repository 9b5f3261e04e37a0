"""PySpark worker entry: ``pyspark.worker.main`` behind a stat-guarded
zipimport directory cache, forked from a daemon that preloads what every
row stage imports.

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

Spark's daemon (``pyspark.daemon``) imports this module once, before
it forks its first worker. There, and only there, the module preloads:
it imports :data:`PRELOAD` (pyarrow, pandas and the Arrow row stage,
which every worker would otherwise import for itself), installs the
guard and stamps every zipimporter's stat key with one
``importlib.invalidate_caches()``, then calls ``gc.freeze()``. Workers
then share those pages with the daemon instead of holding private
copies, and the full collection a worker runs after every task
(``pyspark.daemon``) no longer walks the imported modules' objects,
whose reference-count writes would also unshare the pages. Imported
anywhere else (the driver, tests, the ``spark.python.use.daemon=false``
worker) the module installs and imports nothing.

``session.get_spark`` names this module as ``spark.python.worker.module``.
Spark's daemon ignores a worker module whose name does not start with
``pyspark``, hence the name. It sits beside the package, so any worker
that can import the package can import it.
"""

from __future__ import annotations

import gc
import importlib
import os
import runpy
import sys
import zipimport

from pyspark import worker

# What every Python row stage imports (operators/spread.flat_map_rows
# and the serializers Spark's Arrow UDF runners use).
PRELOAD = (
    "pyarrow",
    "pandas",
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    "distributed_computing_projects_spark.operators.spread",
)

# True only in a daemon that ran the preload, and in its forked workers.
preloaded = False

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


def _in_daemon() -> bool:
    """Whether this process is Spark's worker daemon
    (``python -m pyspark.daemon``)."""
    spec = sys.modules["__main__"].__spec__
    return spec is not None and spec.name == "pyspark.daemon"


def preload() -> None:
    """Import :data:`PRELOAD`, install the guard, set every
    zipimporter's stat key, then freeze the heap. Run once, in the
    daemon, before its first fork."""
    global preloaded
    for name in PRELOAD:
        importlib.import_module(name)
    install()
    importlib.invalidate_caches()
    preloaded = True
    gc.freeze()


def main(infile, outfile) -> None:
    """The daemon's per-worker entry: ``pyspark.worker.main``."""
    install()
    worker.main(infile, outfile)


if __name__ == "__main__":
    # spark.python.use.daemon=false runs the worker module as a script
    install()
    del sys.modules["pyspark.worker"]  # run it afresh, as Spark would
    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
elif _in_daemon():
    preload()
