"""Re-read a zip archive's directory on ``importlib.invalidate_caches()``
only when the archive changed.

Before Python 3.12, ``zipimporter.invalidate_caches`` re-reads the whole
central directory of its archive on every call. pyspark's worker calls
``importlib.invalidate_caches()`` once per task (``setup_spark_files``),
and a worker holds about 16 zipimporters into ``pyspark.zip`` (1,328
entries), so each Python task re-read that directory 16 times. The
wrapper re-reads an archive only when its ``(st_ino, st_size,
st_mtime_ns)`` differs from the one taken before its last re-read: the
stat test ``FileFinder`` applies to directories. Python 3.12 made the
stdlib lazy, so nothing is installed there.

Importing the package installs it. Every Python stage is a function of
this package, so unpickling one in a worker installs it there too, and
later tasks in that (reused) worker skip the re-reads.
"""

import functools
import os
import sys
import zipimport


def _install():
    stdlib = zipimport.zipimporter.invalidate_caches
    read_at = {}  # archive path -> stat signature taken before its last read

    @functools.wraps(stdlib)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            sig = None
        cache = zipimport._zip_directory_cache
        if sig is not None and read_at.get(self.archive) == sig and self.archive in cache:
            self._files = cache[self.archive]
            return
        stdlib(self)
        if sig is not None and self.archive in cache:
            read_at[self.archive] = sig
        else:
            read_at.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # Directories read before the install carry no signature: read each
    # archive once now, so the next task's invalidation is already a stat.
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer.invalidate_caches()


if sys.version_info < (3, 12):
    _install()
