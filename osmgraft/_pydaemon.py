"""PySpark worker daemon that keeps the directory caches of Spark's own archives.

Every Python task runs PySpark's ``setup_spark_files``, which calls
``importlib.invalidate_caches()``. On CPython versions whose
``zipimporter.invalidate_caches`` re-reads the archive's central directory
eagerly (3.11 and older), each zipimporter on the worker path (``pyspark.zip``
once per imported subpackage, the py4j zip, the spark-core jar) re-reads its
archive: about 27k directory entries, 0.2-0.5 s of CPU before the task reads a
row. The archives on ``sys.path`` when the daemon starts are Spark's own and
never change while a worker lives, so their invalidation is skipped here, once,
before the daemon forks its workers. Archives put on the path later (for
example by ``SparkContext.addPyFile``) keep CPython's behaviour. On Pythons
whose zipimporter invalidates lazily the patch is not installed and this
module is plain ``pyspark.daemon``.

``osmgraft.session.WORKER_CONF`` points ``spark.python.daemon.module`` here.
"""

from __future__ import annotations

import os
import sys
import zipimport


def keep_archive_caches(archives: frozenset[str]) -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op for ``archives`` where
    it re-reads eagerly."""
    if hasattr(zipimport.zipimporter, "_get_files"):  # lazy invalidation
        return
    eager = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if self.archive not in archives:
            eager(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    keep_archive_caches(frozenset(p for p in sys.path if os.path.isfile(p)))
    from pyspark.daemon import manager

    manager()
