"""Worker-side packaging: stat-checked zip directory re-reads.

PySpark calls ``importlib.invalidate_caches()`` at the start of every worker
task; before CPython 3.13 that re-reads the directory of every zip archive
on the path. ``shipping.reuse_unchanged_zip_directories`` (installed by the
package import inside workers only) re-reads an archive only when it
changed. These tests count ``zipimport._read_directory`` calls, never
timings.
"""

import importlib
import json
import os
import subprocess
import sys
import types
import zipfile
import zipimport

import pytest

from bustub_vectordb_spark import shipping

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Archives passed to ``zipimport._read_directory``, in call order."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_read_once_and_a_rewrite_reread(tmp_path, monkeypatch, reads):
    archive = str(tmp_path / "zmods.zip")
    _write_zip(archive, {"zship_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(shipping, "_ZIP_DIRECTORIES", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", shipping._invalidate_zip_if_changed
    )
    try:
        assert importlib.import_module("zship_a").X == 1
        del reads[:]
        importlib.invalidate_caches()  # first call: one read of the archive
        assert reads.count(archive) == 1
        importlib.invalidate_caches()  # unchanged: no read
        assert reads.count(archive) == 1

        _write_zip(archive, {"zship_a": "X = 1\n", "zship_b": "Y = 2\n"})
        importlib.invalidate_caches()  # rewritten: read again
        assert reads.count(archive) == 2
        assert importlib.import_module("zship_b").Y == 2
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
    finally:
        for mod in ("zship_a", "zship_b"):
            sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_driver_keeps_the_stdlib_method():
    import bustub_vectordb_spark  # noqa: F401

    assert "pyspark.worker" not in sys.modules
    method = zipimport.zipimporter.invalidate_caches
    assert method.__module__ == "zipimport", method


def test_hook_installs_only_in_a_worker_before_313(monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    # registered so the teardown restores the stdlib method
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setitem(sys.modules, "pyspark.worker", types.ModuleType("pyspark.worker"))
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    shipping.reuse_unchanged_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is stdlib
    monkeypatch.setattr(sys, "version_info", (3, 11, 7, "final", 0))
    shipping.reuse_unchanged_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is shipping._invalidate_zip_if_changed


# Runs in its own process: a local[1] session has one Python worker, so the
# second task lands in the worker the first task imported the package in.
_WORKER_SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from bustub_vectordb_spark.shipping import ensure_package_on_workers

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
ensure_package_on_workers(spark)


def task(batches):
    import importlib, os, zipimport
    import pandas as pd
    import bustub_vectordb_spark  # noqa: F401

    for _ in batches:
        pass
    real, calls = zipimport._read_directory, []
    zipimport._read_directory = lambda a: calls.append(a) or real(a)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    importers = sum(
        isinstance(f, zipimport.zipimporter)
        for f in sys.path_importer_cache.values()
    )
    yield pd.DataFrame({"pid": [os.getpid()], "reads": [len(calls)],
                        "importers": [importers]})


df = spark.range(1, numPartitions=1)
out = [df.mapInPandas(task, "pid long, reads long, importers long").collect()[0].asDict()
       for _ in range(2)]
print(json.dumps(out))
spark.stop()
"""


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ invalidates lazily; no hook")
def test_second_worker_task_reads_no_zip_directory(tmp_path):
    script = tmp_path / "worker_zip_reads.py"
    script.write_text(_WORKER_SCRIPT)
    proc = subprocess.run(
        [sys.executable, str(script), REPO],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    first, second = json.loads(proc.stdout.strip().splitlines()[-1])
    assert first["pid"] == second["pid"], (first, second)
    # the worker imports pyspark from zip archives, so the count is not
    # vacuous: the stdlib method would read every one of them again
    assert second["importers"] > 0, second
    assert second["reads"] == 0, (first, second)
