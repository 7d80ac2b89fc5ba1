"""Python worker daemon of engine sessions: ``pyspark.daemon`` plus a
stat-gated ``zipimport.zipimporter.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before CPython 3.13 each ``zipimporter`` then re-reads the
whole central directory of its archive, once per importer of
``pyspark.zip``. The replacement re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from when it was last read. This file
sits alone in its directory, so putting that directory on the workers'
path exposes no other module.
"""

import importlib
import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches
_read = {}  # archive path -> (directory it read, stat key before the read)


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self):
    """Reload the archive's directory unless it is unchanged since the last read."""
    key = _stat_key(self.archive)
    seen = _read.get(self.archive)
    if key is not None and seen is not None and seen[1] == key:
        self._files = seen[0]
        return
    _original(self)
    if key is not None:
        _read[self.archive] = (self._files, key)


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()  # read each archive once, before the workers fork
    from pyspark.daemon import manager

    manager()
