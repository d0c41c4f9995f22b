"""Skip re-reading an unchanged zip archive on `importlib.invalidate_caches()`.

PySpark's Python worker calls `importlib.invalidate_caches()` before every
task (`pyspark/worker_util.py:setup_spark_files`). Up to Python 3.12,
`zipimport.zipimporter.invalidate_caches` answers that by re-reading the
archive's whole central directory. A worker's path holds pyspark.zip, the
py4j zip and the spark-core jar, under one importer per package directory,
so every task re-read about 26.7k zip entries (16 importers) before its
first line ran: 0.17-0.26 s of CPU per task on a reused worker.

`install()` wraps the method so that an importer re-reads only when its
archive's (st_mtime_ns, st_size) differs from the one it saw at its last
re-read. The stamp is kept per importer, since each importer holds its own
`_files`; a rewritten archive is still re-read. From Python 3.13 on the
method only drops a cache entry, and nothing is installed.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Guard `zipimporter.invalidate_caches`; a second call is a no-op."""
    if sys.version_info >= (3, 13):
        return
    reread = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if reread is None or getattr(reread, "skips_unchanged", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        # stat before the re-read: a write racing it leaves a stale stamp,
        # and the next call re-reads again
        if stamp is None or getattr(self, "_read_stamp", None) != stamp:
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
