"""Re-read a zip archive's directory only when the archive changes.

Before CPython 3.12, ``zipimporter.invalidate_caches`` re-parses the whole
zip directory in pure Python on every call. PySpark's Python worker calls
``importlib.invalidate_caches()`` at the start of every task, which reaches
every zipimporter in ``sys.path_importer_cache`` (one per package directory
imported from ``pyspark.zip``), so a reused worker re-reads the same
unchanged archive many times per task. 3.12 made the re-read lazy;
:func:`install` gives older versions the same behaviour.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size)`` stamp changed since the last re-read.
    A no-op on Python 3.12+ and when already installed."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or cls.invalidate_caches.__module__ == __name__:
        return
    reread = cls.invalidate_caches
    stamps: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or stamps.get(self.archive) != stamp:
            reread(self)
            # stamped before the read: a write during it re-reads next time
            stamps[self.archive] = stamp
        else:
            self._files = files

    cls.invalidate_caches = invalidate_caches
