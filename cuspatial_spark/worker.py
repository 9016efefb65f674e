"""A cheaper per-task import-cache reset inside PySpark workers.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython before 3.13
that makes every cached ``zipimporter`` re-read its archive's whole
central directory; a worker holds about sixteen of them over
``pyspark.zip`` (1,300-odd entries) and ``py4j``, which costs ~0.2
CPU-s per task against milliseconds of kernel time.  CPython 3.13 drops
the cached directory and re-reads it lazily instead.

``guard_import_caches`` replaces ``zipimporter.invalidate_caches`` with
a version that re-reads an archive only when its ``(st_mtime_ns,
st_size)`` changed since that importer last read it.  It runs when the
package is imported inside a task, so the first task of each worker
that touches the engine still pays and every later task of that worker,
of any kind, does not.  On the driver and on 3.13+ it does nothing.
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


def _unless_unchanged(reread):
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and self.__dict__.get("_read_stamp") == stamp:
            return
        reread(self)
        self._read_stamp = stamp

    invalidate_caches.guarded = True
    return invalidate_caches


def guard_import_caches() -> bool:
    """Installs the guard in a PySpark worker on CPython < 3.13; returns
    whether the guard is in place."""
    if sys.version_info >= (3, 13):
        return False
    from pyspark.taskcontext import TaskContext

    if TaskContext.get() is None:
        return False
    method = zipimport.zipimporter.invalidate_caches
    if not getattr(method, "guarded", False):
        zipimport.zipimporter.invalidate_caches = _unless_unchanged(method)
    return True
