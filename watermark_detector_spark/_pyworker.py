"""Per-task setup cost of the Python workers that run the engine's UDFs.

Before every task, a reused pyspark worker runs ``setup_spark_files``,
which calls ``importlib.invalidate_caches()``. Workers import pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries), and every
imported pyspark subpackage leaves its own ``zipimporter`` in
``sys.path_importer_cache``. Before CPython 3.13,
``zipimporter.invalidate_caches`` re-parses the whole zip directory
eagerly: about 10 ms per importer, 110-230 ms per task, against ~10 ms
for extract+detect of a 100-page micro-batch. 3.13 made it lazy.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _archive_stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def guard_zip_invalidation() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_mtime_ns, st_size)`` changed since that importer last
    read it, or cannot be read: a rewritten zip is still picked up,
    which is the method's contract. Returns True when it installed the
    guard; a second call, or any call on Python >= 3.13, changes nothing.

    Every importer already cached is recorded as read now: the task
    that installs this (through unpickling an engine UDF, which imports
    the package) re-read them all moments earlier in its own
    ``setup_spark_files``. Without that, each worker would pay two more
    slow tasks before the guard took effect."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls.invalidate_caches,
                                              "__wrapped__"):
        return False
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        st = _archive_stat(self.archive)
        if st is None or st != getattr(self, "_read_stat", None):
            reread(self)
            self._read_stat = st

    invalidate_caches.__wrapped__ = reread
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            imp._read_stat = _archive_stat(imp.archive)
    cls.invalidate_caches = invalidate_caches
    return True
