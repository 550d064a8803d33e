"""Python worker daemon: ``pyspark.daemon`` without the per-task zip re-reads.

Before every task, a Python worker runs ``pyspark.worker_util.
setup_spark_files``, which ends in ``importlib.invalidate_caches()``. On
CPython below 3.12 that calls ``zipimporter.invalidate_caches`` on every
zip on ``sys.path``, and each call re-reads the archive's whole central
directory (CPython gh-103200; 3.12 made it lazy). ``pyspark.zip`` holds
about 1,300 entries and the spark-core jar sits on the path too, so a
worker spends 230-280 ms per task re-reading archives that cannot change:
the daemon's ``PYTHONPATH`` is fixed when Spark starts it.

This module patches ``zipimporter.invalidate_caches`` to skip archives on
that start-up ``PYTHONPATH`` and then runs the stock daemon loop. Archives
added later (``SparkContext.addPyFile`` puts them in the task's files
directory, not on ``PYTHONPATH``) are invalidated as before. Forked
workers inherit the patch. ``session.get_session`` selects this module via
``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys

from pyspark import daemon

if sys.version_info < (3, 12):
    import zipimport

    _FIXED_ARCHIVES = frozenset(
        os.path.abspath(p) for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    )
    _invalidate_archive = zipimport.zipimporter.invalidate_caches

    def _invalidate_unless_fixed(self) -> None:
        if os.path.abspath(self.archive) not in _FIXED_ARCHIVES:
            _invalidate_archive(self)

    zipimport.zipimporter.invalidate_caches = _invalidate_unless_fixed


if __name__ == "__main__":
    daemon.manager()
