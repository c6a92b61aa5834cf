"""The Python worker daemon: `pyspark.daemon` with one import-cache guard.

`session.get_spark` sets `spark.python.daemon.module` to this module, so
every Python worker forks from a process that ran `install_zip_guard()`.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task (`pyspark/worker_util.py`, `setup_spark_files`). Through
Python 3.12 that makes every cached `zipimport.zipimporter` reread its
archive's whole central directory, and the worker's `sys.path` holds
`pyspark.zip`, the py4j zip and Spark's core jar (thousands of entries,
one importer per package directory loaded from them, 16 with pyspark
4.1): a fixed cost of a tenth of a second or more per
task, paid even by reused workers. The guard makes an importer reread
only when its archive's `(st_ino, st_size, st_mtime_ns)` differs from the
one it recorded at its last reread, so an archive rewritten in place (a
new `--py-files` zip, say) is still picked up. A rewrite that keeps the
inode, the size and the nanosecond mtime goes unseen; the path finder's
own directory cache is coarser still. From Python 3.13 on the original
method only drops the cached directory, so the guard saves little there,
and it is installed on every version alike.

The daemon installs the guard, imports `pyspark.daemon` (which imports
the worker and with it most of `pyspark`), rereads every cached archive
once, and only then forks workers: each worker inherits the recorded
keys, so not even its first task rereads an unchanged archive.
"""

from __future__ import annotations

import importlib
import os
import zipimport


def _archive_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install_zip_guard() -> None:
    """Make `zipimporter.invalidate_caches` reread an archive only when
    its file has changed since this importer last reread it."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        key = _archive_key(self.archive)
        if key is None or getattr(self, "_archive_key", None) != key:
            reread(self)
            self._archive_key = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install_zip_guard()
    from pyspark import daemon

    importlib.invalidate_caches()
    daemon.manager()
