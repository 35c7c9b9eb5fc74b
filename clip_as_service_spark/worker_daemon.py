"""Spark's Python worker daemon, ``pyspark.daemon``, run after ``install``
has fixed zipimport's cache invalidation in this process; ``get_spark``
sets it as ``spark.python.daemon.module`` (the session module says why).
The daemon forks every Python worker, so all workers inherit the fix.

Before Python 3.13, ``zipimporter.invalidate_caches`` re-reads the whole
directory of its archive, once per importer, and PySpark calls
``importlib.invalidate_caches()`` before every task. ``install`` backports
3.13, which no longer re-reads an unchanged archive: an importer re-reads
only when the archive's (mtime, size) differs from the last read's or the
archive left ``zipimport._zip_directory_cache``. All importers of one
archive share one read, and a changed archive (``addPyFile``) is re-read.

Run as ``python -m clip_as_service_spark.worker_daemon pyspark.worker``."""

from __future__ import annotations

import os
import runpy
import sys
import zipimport


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` in this process; False (and
    nothing patched) on Python 3.13+."""
    if sys.version_info >= (3, 13):
        return False
    stdlib = zipimport.zipimporter.invalidate_caches
    read_at = {}  # archive -> (st_mtime_ns, st_size) taken before its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        read_at[self.archive] = stamp
        stdlib(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
