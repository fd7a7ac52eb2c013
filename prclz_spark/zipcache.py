"""Re-read a zip archive's directory only when the archive changed.

Before every task, PySpark's Python worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On CPython 3.11 that reaches ``zipimport.zipimporter.invalidate_caches``,
which parses the archive's whole central directory again, once for every
cached importer. A worker that imports pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` holds about 16 such importers over a
1,328-entry archive, so each task spends about 0.25 s of CPU re-reading a
file that has not changed.

``install()`` wraps that method: it returns at once when the archive's
``(st_mtime_ns, st_size)`` equals the stamp taken before its last read, and
calls the original otherwise, so a rewritten archive is still re-read.
Importing ``prclz_spark`` installs it. Every engine UDF imports the package
when its pickled function loads in a worker, and workers are reused, so from
a worker's second task on the re-read is gone.
"""

from __future__ import annotations

import functools
import os
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its last read
_stamps: dict[str, tuple[int, int]] = {}


def install() -> None:
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stamp_guarded", False):
        return  # the package was imported again: already wrapped

    @functools.wraps(original)
    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None and _stamps.get(archive) == stamp:
            # another importer of the same archive may have done the re-read
            self._files = files
            return
        # stamped before the read: a rewrite during the read re-reads next time
        _stamps[archive] = stamp
        original(self)

    invalidate_caches.stamp_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
