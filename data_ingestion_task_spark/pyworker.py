"""The engine's Python worker daemon: ``pyspark.daemon`` without the
per-task re-read of ``pyspark.zip``.

``get_spark`` selects it with ``spark.python.daemon.module``; Spark
launches it as ``python -m data_ingestion_task_spark.pyworker
pyspark.worker`` and forks every Python worker from it.

Before each task pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. The worker imports pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``, so ``sys.path_importer_cache``
holds 16 ``zipimporter`` objects (12 on that archive, the rest on the py4j zip
and the spark-core jar), and before Python 3.13
``zipimporter.invalidate_caches`` re-parses the whole zip directory
eagerly: 16 parses per task, measured at 218-441 ms of every Python
task's run time on 4 vCPUs (3.13 makes it lazy).

This daemon skips that re-read while the archive's ``os.stat`` (mtime,
size, inode) is unchanged since the importer last read it. Spark's
include semantics stay: a zip added with ``addPyFile`` gets a new
importer, a zip rewritten in place changes its stat and is re-read, a
vanished one falls through to the original (which empties the
importer), and ``FileFinder`` caches are invalidated as before.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: Attribute on each ``zipimporter``: the archive stat at its last read.
_STAMP = "_graft_archive_stamp"


def _archive_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def patch_zipimporter() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.
    Returns whether the patch is in place (never on Python >= 3.13)."""
    if sys.version_info >= (3, 13):
        return False
    original = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp is not None and stamp == getattr(self, _STAMP, None):
            return
        original(self)
        setattr(self, _STAMP, stamp)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    # Patch through the module's own name, so forked workers can tell
    # which daemon they came from.
    from data_ingestion_task_spark.pyworker import patch_zipimporter as _patch
    from pyspark.daemon import manager

    _patch()
    manager()
