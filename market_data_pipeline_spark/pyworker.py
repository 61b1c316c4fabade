"""Python worker daemon that re-reads a zip archive on the path only when it changed.

Before every task pyspark's worker calls ``importlib.invalidate_caches()``,
and on CPython < 3.13 each ``zipimporter`` answers by re-parsing its whole
archive directory in pure Python: 16 importers over ``pyspark.zip``, py4j
and the spark-core jar, 0.15-0.25 s a task. Here a directory is re-read
only when the archive's ``(st_mtime_ns, st_size)`` differs from the stamp
taken just before its last read. ``session.get_spark`` runs this module as
the daemon (``spark.python.daemon.module``); forked workers inherit the patch.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stamps: dict = {}  # archive path -> (st_mtime_ns, st_size) before its last read


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Patch ``zipimport`` in this process; idempotent, a no-op on CPython >= 3.13."""
    stock = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(stock, "stamped", False):
        return
    read_directory = zipimport._read_directory

    def _read_directory(archive):
        stamp = _stamp(archive)
        files = read_directory(archive)
        _stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if files is not None and stamp is not None and _stamps.get(self.archive) == stamp:
            self._files = files
        else:
            stock(self)

    invalidate_caches.stamped = True
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    install()
    importlib.invalidate_caches()  # stamp the archives read before install()
    daemon.manager()
