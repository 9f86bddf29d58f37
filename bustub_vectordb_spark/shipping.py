"""Ship this package to executor Python workers.

Any path that serializes engine objects into tasks (broadcast HNSW graphs,
pickled shard blobs, mapInPandas closures touching package classes) needs
``bustub_vectordb_spark`` importable inside the worker interpreter. On a real
cluster that is `--py-files`; for a driver session launched from an arbitrary
cwd (the round driver, notebooks) we zip the package once and addPyFile it.
Idempotent per SparkContext.

It also keeps worker tasks from re-reading zip archives that have not
changed (``reuse_unchanged_zip_directories``).
"""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

_SHIPPED: set[int] = set()
# archive path -> (stat key, directory) of the last read of that archive
_ZIP_DIRECTORIES: dict[str, tuple[tuple[int, int, int] | None, dict]] = {}


def ensure_package_on_workers(spark) -> None:
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                sources.append(os.path.join(root, f))
    sources.sort()
    # content-keyed zip name: a fixed path would keep shipping a STALE
    # snapshot across sessions after the package changes on disk — workers
    # would then unpickle current driver objects against old class code
    import hashlib

    h = hashlib.sha256()
    for full in sources:
        st = os.stat(full)
        h.update(f"{os.path.relpath(full, pkg_dir)}:{st.st_mtime_ns}:{st.st_size};".encode())
    zip_path = os.path.join("/tmp", f"{pkg_name}_shipped_{h.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for full in sources:
                rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    sc.addPyFile(zip_path)
    _SHIPPED.add(key)


def release_checkpoint(df) -> None:
    """Release the executor storage behind a ``localCheckpoint``ed
    DataFrame. ``DataFrame.unpersist()`` only touches the cache manager —
    a local checkpoint lives as a persisted RDD under a LogicalRDD leaf,
    so long-running delta/compaction schemes (ShardedHNSW.insert, the
    streaming ingest sinks) must unpersist THAT RDD or every superseded
    generation stays pinned in block-manager storage until the context
    dies. No-op for plans that are not a checkpoint leaf (best-effort:
    storage reclaim must never fail a query)."""
    try:
        df.unpersist()  # covers .cache()d frames (e.g. a load()ed base)
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass


def _invalidate_zip_if_changed(importer) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive's (inode, size, mtime_ns) differ from
    those of the last read. Importers over one archive share that read, so
    each archive is read once per change, not once per importer per call.
    A replaced or rewritten archive is read afresh; one that cannot be
    stat'ed is always re-read, as the stdlib method does."""
    archive = importer.archive
    try:
        st = os.stat(archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    seen = _ZIP_DIRECTORIES.get(archive)
    if key is not None and seen is not None and seen[0] == key:
        importer._files = seen[1]
        return
    try:
        importer._files = zipimport._read_directory(archive)
        zipimport._zip_directory_cache[archive] = importer._files
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(archive, None)
        importer._files = {}
    _ZIP_DIRECTORIES[archive] = (key, importer._files)


def reuse_unchanged_zip_directories() -> None:
    """Stop PySpark worker tasks from re-reading unchanged zip archives.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    task (``worker_util.setup_spark_files``). Before CPython 3.13 that makes
    every ``zipimporter`` on the path re-read its archive's whole directory:
    pyspark.zip and the Spark jar cost a worker 120-220 ms per task, against
    about 1 ms of graph work in a routed-HNSW task. This swaps in a
    stat-checked re-read. It acts only inside a PySpark worker (the driver
    keeps the stdlib method) and only before 3.13, whose invalidation is
    already lazy. The package's import calls it, so a worker is covered
    from the first task that unpickles an engine object."""
    if sys.version_info >= (3, 13) or "pyspark.worker" not in sys.modules:
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_zip_if_changed
