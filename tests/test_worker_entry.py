"""The PySpark worker entry (``pyspark_worker_entry``): its stat-guarded
``zipimporter.invalidate_caches`` skips the per-task central-directory
re-read while an archive is unchanged and still sees a rewritten one,
``get_spark``'s Python workers run with it installed, and they fork
from a daemon that preloaded the row-stage libraries and froze its
heap — while importing the module anywhere else preloads nothing."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

import pyspark_worker_entry as entry


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(f"{n}.py", f"NAME = {n!r}\n")


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13 drops the directory cache lazily")
def test_guard_rereads_only_a_changed_archive(tmp_path):
    path = tmp_path / "mods.zip"
    _write_zip(path, ["a"])
    importer = zipimport.zipimporter(str(path))
    entry.invalidate_caches(importer)
    files = importer._files
    entry.invalidate_caches(importer)
    assert importer._files is files  # unchanged archive: no re-read
    assert importer.find_spec("b") is None

    _write_zip(path, ["a", "b"])  # rewritten in place: same inode
    entry.invalidate_caches(importer)
    spec = importer.find_spec("b")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.NAME == "b"
    # importing the entry module does not install the guard
    assert zipimport.zipimporter.invalidate_caches is not entry.invalidate_caches


def test_python_workers_run_with_the_guard(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import pyspark_worker_entry

        for _ in batches:
            pass
        installed = (zipimport.zipimporter.invalidate_caches
                     is pyspark_worker_entry.invalidate_caches)
        importer = next(
            i for i in list(sys.path_importer_cache.values())
            if isinstance(i, zipimport.zipimporter)
            and i.archive.endswith("pyspark.zip"))
        files = importer._files
        importlib.invalidate_caches()
        yield pd.DataFrame({"py_minor": [sys.version_info[1]],
                            "installed": [installed],
                            "kept": [importer._files is files]})

    [row] = (spark.range(1, numPartitions=1)
             .mapInPandas(probe, "py_minor int, installed boolean, kept boolean")
             .collect())
    if row.py_minor >= 13:
        assert not row.installed
    else:
        assert row.installed and row.kept


def test_importing_the_entry_preloads_nothing():
    assert not entry.preloaded
    assert zipimport.zipimporter.invalidate_caches is not entry.invalidate_caches


def test_workers_fork_from_a_preloaded_frozen_daemon(spark):
    def probe(batches):
        import gc

        import pandas as pd

        import pyspark_worker_entry

        for _ in batches:
            pass
        yield pd.DataFrame({"frozen": [gc.get_freeze_count()],
                            "preloaded": [pyspark_worker_entry.preloaded]})

    [row] = (spark.range(1, numPartitions=1)
             .mapInPandas(probe, "frozen bigint, preloaded boolean")
             .collect())
    assert row.preloaded
    assert row.frozen > 0


def test_worker_entry_runs_as_a_simple_worker():
    """With ``spark.python.use.daemon=false`` Spark starts each worker as
    ``python -m <worker module>``, so the entry must run the worker (with
    the guard) as a script too. Needs its own SparkContext: subprocess."""
    script = textwrap.dedent("""
        from distributed_computing_projects_spark.session import get_spark

        spark = get_spark(app_name="simple-worker", cpus=1,
                          extra_conf={"spark.python.use.daemon": "false"})

        def probe(batches):
            import zipimport

            import pandas as pd

            for _ in batches:
                pass
            guard = zipimport.zipimporter.invalidate_caches
            yield pd.DataFrame({"module": [guard.__module__]})

        df = spark.range(1, numPartitions=1).mapInPandas(probe, "module string")
        print(df.first().module)
        spark.stop()
    """)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=repo, capture_output=True,
        text=True, timeout=300, env={**os.environ, "SPARK_DRIVER_MEMORY": "1g"})
    assert proc.returncode == 0, proc.stderr[-2000:]
    expected = "__main__" if sys.version_info < (3, 13) else "zipimport"
    assert proc.stdout.strip().splitlines()[-1] == expected
