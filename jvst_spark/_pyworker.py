"""Once-per-worker guard against the per-task zip re-read of Python
workers.

Before every task a PySpark Python worker runs
`importlib.invalidate_caches()` (`setup_spark_files` in
pyspark/worker_util.py). Where `zipimport` re-reads eagerly (CPython
3.11 and older), that re-reads the whole central directory of every
zip archive on the worker's `sys.path`, once per cached importer:
pyspark.zip (about 12 importers, one per imported subpackage) and the
15 MB spark-core jar (5,359 entries). Measured on CPython 3.11.7 with
PySpark 4.1.2 in a reused worker, that is 234-286 ms of every task,
against 20-100 ms for the per-key body of `streaming_duplicates`.

`install()` makes the re-read conditional: an archive is read again
only when its `(st_mtime_ns, st_size, st_ino)` differs from the stamp
taken before its last read; the importers of an unchanged archive share
the directory that read cached. When `stat` fails the original runs, so
a changed or deleted archive is re-read exactly as before.

Every function the package ships to Python workers calls `install()`
first. The first task of a worker still pays the re-read; reused
workers do not. CPython 3.12 made the re-read lazy (its zipimporter
reads through `_get_files` on demand); there `install()` does nothing.
"""

from __future__ import annotations

import os
import zipimport


def _stamp(path: str) -> tuple:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Guard `zipimporter.invalidate_caches` (idempotent; a no-op where
    the zip re-read is already lazy)."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or hasattr(
        cls.invalidate_caches, "__wrapped__"
    ):
        return
    reread = cls.invalidate_caches
    stamps = {}  # archive path -> stamp taken before its last read

    def invalidate_caches(self):
        archive = self.archive
        try:
            stamp = _stamp(archive)
        except OSError:
            stamps.pop(archive, None)
            reread(self)
            return
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None and stamps.get(archive) == stamp:
            self._files = files
            return
        reread(self)
        if archive in zipimport._zip_directory_cache:
            stamps[archive] = stamp
        else:  # unreadable now: the original dropped its cache entry
            stamps.pop(archive, None)

    invalidate_caches.__wrapped__ = reread
    cls.invalidate_caches = invalidate_caches
