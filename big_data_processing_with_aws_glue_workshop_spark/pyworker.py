"""Python worker daemon for the engine's Spark sessions.

Spark forks the worker for every Python task (UDFs, ``pandas_udf``,
``mapInPandas``, local ``createDataFrame`` frames) from one daemon process,
named by ``spark.python.daemon.module``; ``session.get_session`` names this
module. It is PySpark's own ``pyspark.daemon`` with one change: the import
cache flush at the start of each task.

PySpark's ``setup_spark_files`` calls ``importlib.invalidate_caches()`` on
every task. Workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
(1,328 entries), and on Python 3.11 every ``zipimporter`` a worker holds (one
per imported pyspark subpackage, 16 after a pandas UDF) re-parses that zip's
central directory when caches are invalidated. That costs 0.12-0.22 s of CPU
per task whatever the task does (see docs/SCALE.md, "Python-worker task
floor").

The flush is only needed when the set of importable modules may have
changed, so here it runs only:

- on a worker's first task;
- when the task added entries to ``sys.path`` (zip/egg py-includes);
- when the ``SparkFiles`` root directory (where ``addFile``/``addPyFile``
  drop ``.py`` files) has a different mtime than at the last flush, or one
  too recent to rule out a further change within the same filesystem
  timestamp tick.
"""

from __future__ import annotations

import importlib
import os
import sys
import time
from typing import IO

from pyspark.core.files import SparkFiles
from pyspark.worker_util import setup_spark_files as _upstream

# A directory mtime this close to the clock may still be shared by a later
# write in the same timestamp tick, so it does not prove "unchanged".
_RACY_NS = 1_000_000_000


def _settled_mtime_ns(root: str | None) -> int:
    """The directory's mtime, or -1 when it is unreadable or racy."""
    try:
        mtime = os.stat(root).st_mtime_ns
    except (OSError, TypeError):
        return -1
    return mtime if time.time_ns() - mtime >= _RACY_NS else -1


class SparkFilesSetup:
    """``pyspark.worker.setup_spark_files`` with its import cache flush
    skipped when nothing importable can have changed. One instance per
    worker process: a forked worker starts from the daemon's unused one."""

    def __init__(self) -> None:
        # (SparkFiles root, its settled mtime) at the last flush
        self._last: tuple[str | None, int] | None = None

    def __call__(self, infile: IO[bytes]) -> None:
        flush = importlib.invalidate_caches
        path_before = list(sys.path)
        importlib.invalidate_caches = lambda: None
        try:
            _upstream(infile)
        finally:
            importlib.invalidate_caches = flush

        root = SparkFiles._root_directory
        mtime = _settled_mtime_ns(root)
        if sys.path != path_before or self._last != (root, mtime) or mtime == -1:
            flush()
            self._last = (root, mtime)


def main() -> None:
    """Install the flush rule into ``pyspark.worker`` and run PySpark's
    daemon manager; forked workers inherit it."""
    import pyspark.worker
    from pyspark import daemon

    pyspark.worker.setup_spark_files = SparkFilesSetup()
    daemon.manager()


if __name__ == "__main__":
    main()
