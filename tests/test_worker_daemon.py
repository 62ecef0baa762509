"""The worker daemon (`osmgraft._worker`): pyspark still does what it
works around, the session's workers run it, and it keeps new zips
importable."""

from __future__ import annotations

import io
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
from pyspark.serializers import write_int, write_with_length

from osmgraft import session


def _in_worker(spark, fn) -> list:
    """Run fn() in one Python task and return what it returns."""

    def task(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"v": [repr(fn())]})

    df = spark.range(0, 1, 1, 1)
    return [r.v for r in df.mapInPandas(task, "v string").collect()]


def _setup_spark_files_invalidations() -> int:
    """How often pyspark's per-task setup_spark_files calls
    importlib.invalidate_caches() (state restored afterwards)."""
    import importlib

    from pyspark import worker_util
    from pyspark.core.files import SparkFiles

    saved = (importlib.invalidate_caches, list(sys.path),
             SparkFiles._root_directory, SparkFiles._is_running_on_worker)
    calls = []
    importlib.invalidate_caches = lambda: calls.append(1)
    try:
        buf = io.BytesIO()
        write_with_length(os.getcwd().encode(), buf)
        write_int(0, buf)  # no python includes
        buf.seek(0)
        worker_util.setup_spark_files(buf)
    finally:
        (importlib.invalidate_caches, sys.path[:],
         SparkFiles._root_directory, SparkFiles._is_running_on_worker) = saved
    return len(calls)


def test_pyspark_invalidates_caches_per_task(spark):
    """The daemon exists because setup_spark_files calls
    importlib.invalidate_caches() before every task, and that reaches
    zipimporter.invalidate_caches. If either stops being so, the patch
    is dead code (or patches nothing): revisit _worker.py. Checked on
    the driver and in a worker, whose pyspark comes from Spark's own
    pyspark.zip."""
    assert callable(getattr(zipimport.zipimporter, "invalidate_caches", None))
    assert _setup_spark_files_invalidations() == 1
    assert _in_worker(spark, _setup_spark_files_invalidations) == ["1"]


def test_install_keeps_read_directories(tmp_path):
    """After install, invalidate_caches keeps a zipimporter's directory;
    a zip first seen afterwards still imports. Run in a fresh
    interpreter so this process's zipimport stays stock."""
    zips = []
    for name in ("zold", "znew"):
        z = tmp_path / f"{name}.zip"
        with zipfile.ZipFile(z, "w") as zf:
            zf.writestr(f"{name}_mod.py", f"NAME = {name!r}\n")
        zips.append(str(z))
    code = f"""
import importlib, sys
from osmgraft import _worker
sys.path.insert(0, {zips[0]!r})
import zold_mod
imp = sys.path_importer_cache[{zips[0]!r}]
files = imp._files
importlib.invalidate_caches()
assert imp._files is not files, "stock zipimporter re-reads"
assert _worker.install()
files = imp._files
importlib.invalidate_caches()
assert imp._files is files, "patched zipimporter keeps its directory"
sys.path.insert(0, {zips[1]!r})
importlib.invalidate_caches()
import znew_mod
assert znew_mod.NAME == "znew"
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run([sys.executable, "-c", code], cwd=root,
                       capture_output=True, text=True, timeout=60)
    assert r.returncode == 0, r.stderr


def test_session_workers_run_the_daemon(spark):
    assert (spark.sparkContext.getConf().get("spark.python.daemon.module")
            == "osmgraft._worker")

    def probe():
        return zipimport.zipimporter.invalidate_caches.__name__

    assert _in_worker(spark, probe) == [repr("_keep_directory")]


def test_added_zip_importable_mid_session(spark, tmp_path):
    _in_worker(spark, lambda: None)  # the workers already exist
    mod = f"added_{uuid.uuid4().hex}"
    z = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr(f"{mod}/__init__.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(z))

    def probe():
        import importlib

        return importlib.import_module(mod).VALUE

    assert _in_worker(spark, probe) == ["42"]


def test_stock_daemon_when_workers_cannot_import(monkeypatch, tmp_path):
    """Workers start in this process's cwd with its PYTHONPATH: the
    daemon is chosen only when osmgraft is found there."""
    want = {"spark.python.daemon.module": "osmgraft._worker"}
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.setenv("PYTHONPATH", "")
    monkeypatch.chdir(root)
    assert session._worker_daemon() == want
    monkeypatch.chdir(tmp_path)
    assert session._worker_daemon() == {}
    monkeypatch.setenv("PYTHONPATH", root)
    assert session._worker_daemon() == want
    monkeypatch.delattr(zipimport.zipimporter, "invalidate_caches")
    assert session._worker_daemon() == {}
