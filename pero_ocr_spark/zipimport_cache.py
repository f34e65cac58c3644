"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

Why this exists: the PySpark worker calls ``importlib.invalidate_caches()``
once per task (``worker_util.setup_spark_files``), before any user code
runs. On CPython 3.11 and 3.12, ``zipimport.zipimporter.invalidate_caches``
eagerly re-reads the whole central directory of its archive, and a worker
importing pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` (about 1,300
entries) holds one ``zipimporter`` per package directory it imported from —
14-16 on a typical pipeline worker. Every Python task therefore re-parsed
the same unchanged directory 14-16 times: 250-300 ms per task on a 4-core
VM, more than the kernel work of a typical ``mapInPandas`` task. CPython 3.13 made
the method lazy (it only drops the shared cache entry); this module gives
older interpreters the same cost while keeping the refresh semantics.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs
from the stamp that importer took when it last read it. The package
``__init__`` installs it, so it runs in the driver and in every Python
worker that unpickles an engine function (workers are reused, so each
pays the import once). It adds no option and changes no query result.
Installing twice changes nothing; on CPython 3.13 and later it does
nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _make_invalidate(reread):
    def invalidate_caches(self):
        """Reload the archive's file data if it changed since this
        importer last read it."""
        # stat BEFORE reading: a rewrite racing the read leaves an
        # older stamp behind, so the next call reads again
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_dir_stamp", None):
            return
        reread(self)
        # an unreadable archive leaves no files to trust next time
        self._dir_stamp = stamp if self._files else None

    invalidate_caches._reread = reread  # marks the patch as installed
    return invalidate_caches


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (CPython < 3.13, once)."""
    if sys.version_info >= (3, 13):
        return
    current = zipimport.zipimporter.invalidate_caches
    if hasattr(current, "_reread"):
        return
    zipimport.zipimporter.invalidate_caches = _make_invalidate(current)
