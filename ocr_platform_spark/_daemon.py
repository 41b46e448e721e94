"""Python worker daemon for local sessions: ``pyspark.daemon`` with a
per-worker, not per-task, ``importlib.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``worker_util.setup_spark_files``); on Python 3.11 that makes each
zipimporter over ``pyspark.zip`` re-read the archive, which costs more than a
small task's own work. Files shipped mid-session either add a ``sys.path``
entry (zips, eggs) or land in the SparkFiles directory that is already on it
(plain ``.py``, found through the directory finder's mtime check), so the real
call is needed only when ``sys.path`` changed length. Workers fork from this
daemon and inherit the wrapper. ``session.get_spark`` selects it through
``spark.python.daemon.module`` for local masters only.
"""

import importlib
import sys

_invalidate_caches = importlib.invalidate_caches
_path_len = -1


def _invalidate_caches_when_path_changed() -> None:
    global _path_len
    if len(sys.path) != _path_len:
        _path_len = len(sys.path)
        _invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    importlib.invalidate_caches = _invalidate_caches_when_path_changed
    daemon.manager()
