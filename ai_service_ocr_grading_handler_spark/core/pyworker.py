"""Remove the per-task zip-archive re-read from PySpark Python workers.

Before each task runs, PySpark's worker calls `importlib.invalidate_caches()`
(`pyspark/worker_util.py`, `setup_spark_files`). Up to Python 3.12,
`zipimport.zipimporter.invalidate_caches` re-reads the whole central
directory of its archive. A worker holds one importer per package
directory it imported from `$SPARK_HOME/python/lib/pyspark.zip` (~16 after
an extract task; the archive has ~1,300 entries), so every Python task —
`mapInArrow`, `mapInPandas`, `udf`, `pandas_udf`, `rdd.mapPartitions` —
paid 110–210 ms on an idle 4-vCPU host, up to 475 ms under load, before
its function ran. Python 3.13 made the call lazy: it only drops the cache.

`install()` gives older workers the same cost: an importer re-reads its
archive only when the archive's (mtime_ns, size, inode) differs from what
it was when that importer last read it, so a rewritten archive is still
seen on the next invalidation. An importer's first call after `install()`
still reads, since nothing stamped its earlier read: a worker pays the full
cost in its first two tasks and ~0.2 ms a task after that.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_STAMP = "_archive_stamp"  # instance attribute: stamp of the last read


def _archive_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _stamped(invalidate):
    @functools.wraps(invalidate)
    def invalidate_caches(self) -> None:
        # stat BEFORE the read: an archive rewritten between the two keeps
        # an older stamp than its content, so the next call reads again
        stamp = _archive_stamp(self.archive)
        if stamp is not None and stamp == getattr(self, _STAMP, None):
            return
        invalidate(self)
        setattr(self, _STAMP, stamp)

    return invalidate_caches


def install() -> bool:
    """Make `zipimporter.invalidate_caches` re-read only a changed archive.

    Acts only on Python < 3.13 and only inside a PySpark task (a worker
    process with a current `TaskContext`); the driver and every other
    process keep the stock importer. Idempotent. Returns whether the
    stamped method is in place."""
    if sys.version_info >= (3, 13):
        return False
    # a worker imports pyspark.taskcontext before it unpickles a task's
    # function; a process that never did is not running a task
    tc = sys.modules.get("pyspark.taskcontext")
    if tc is None or tc.TaskContext.get() is None:
        return False
    cls = zipimport.zipimporter
    if not hasattr(cls.invalidate_caches, "__wrapped__"):
        cls.invalidate_caches = _stamped(cls.invalidate_caches)
    return True
