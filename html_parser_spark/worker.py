"""The one bootstrap every Python worker entry point of the package runs.

Every `mapInArrow` and `applyInPandasWithState` function is passed to
Spark as `on_worker(fn)`; a structural test pins that.

Why it exists: pyspark's worker calls `importlib.invalidate_caches()` at
the start of every task (`pyspark/worker_util.setup_spark_files`), and a
cluster deploy's workers import pyspark from `$SPARK_HOME/python/lib/
pyspark.zip`, so `sys.path_importer_cache` holds zipimporters on
pyspark.zip, py4j and the spark-core jar (16 of them, ~26.7k archive
entries on Spark 4.1.2). CPython 3.11's `zipimporter.invalidate_caches`
re-reads its whole archive directory in pure Python, every time: measured
at 106-206 ms of CPU per task inside a local[4] worker, before the task's
first row.

The bootstrap makes a zipimporter re-read its archive only when the
archive's `os.stat` stamp (mtime_ns, size, inode) differs from the stamp
of its last read. A changed or replaced archive (a re-shipped --py-files
zip) is re-read exactly as before; an unchanged one costs one `stat`.
Spark fetches a task's files before it starts the task's Python side, so
an archive does not change between the task's own invalidation and the
install here, which stamps the importers that invalidation just read.

It patches nothing on the driver (no TaskContext there) and nothing
where no archive is on the worker's import path (pyspark imported from
site-packages), and installs at most once per worker process.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_installed = False


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_if_changed(self, _reread=zipimport.zipimporter.invalidate_caches):
    stamp = _stamp(self.archive)  # before the read: a later change re-reads
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def bootstrap() -> None:
    """Install the stamp-checked zipimporter invalidation in this worker
    process (idempotent; a no-op on the driver)."""
    global _installed
    if _installed:
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    _installed = True
    importers = [
        f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)
    ]
    if not importers:
        return
    for imp in importers:
        imp._read_stamp = _stamp(imp.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def on_worker(fn):
    """fn, run after `bootstrap()`: wrap every function handed to Spark
    for a Python worker."""

    @functools.wraps(fn)
    def run(*args):
        bootstrap()
        return fn(*args)

    return run
