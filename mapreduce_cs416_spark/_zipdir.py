"""Re-read a zip archive's directory on ``importlib.invalidate_caches()``
only when the archive has changed.

Every invocation of a PySpark Python worker — tasks and UDFs, the
data-source planner runners, streaming-sink write and commit — starts
in ``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``, also in a reused worker. Up to
CPython 3.12, ``zipimport.zipimporter.invalidate_caches`` then parses
its archive's central directory again, once for EVERY zipimporter on
the archive (3.13 only drops the cache entry). Workers import pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip``, which by the time user
code runs has 16 zipimporters: a cProfile of one task in a reused
worker showed 16 ``_read_directory`` calls parsing 26,672 entries.

Measured on 4 vCPU, PySpark 4.1.2, CPython 3.11.7: a one-partition
``mapPartitions`` took 0.17–0.36 s from task launch to its first user
line, 0.055–0.07 s with this patch. The perfbench items that run
Python workers (warm runs, seeds 51 and 53): ``manifest_sink_append``
(7 invocations a run) 2.34–2.95 s -> 1.15–1.44 s and
``mr_wordcount_compat`` (11 tasks) 0.96–1.32 s -> 0.48–0.73 s; the
items that run no Python worker did not move. Whole warm one-task jobs
(medians of 12): a one-row ``mapPartitions`` 0.23–0.25 -> 0.08–0.10 s,
a native manifest scan of a 200-row table 0.24–0.26 -> 0.10 s.

:func:`install` wraps the method: an archive whose
``(st_ino, st_size, st_mtime_ns)`` still matches the stat taken before
its last directory read, and whose cached directory is still that
read's result, keeps the cached directory. A missing, new or changed
archive goes through the original method. The package ``__init__``
installs it, and every worker unpickles something from this package,
so a worker process has it from its first invocation on and keeps it
while reused. A worker that never runs this package's code keeps the
full cost (a ``createDataFrame`` over a tuple list: 0.26–0.30 s a read
either way), and a task that leaves its input unread is not reused.
``spark.python.daemon.module`` cannot carry the patch: only
``pyspark.worker`` honours that setting, not the planner daemons
(``python -m pyspark.daemon pyspark.sql.worker.*``).
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (stat taken before the last directory read, the dict
# that read produced); one pair per store, so a concurrent re-read can
# only fail the next check, never keep a directory older than its stat
_read_at: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _keep_unchanged(reread):
    def invalidate_caches(self):
        archive = self.archive
        stamp = _stamp(archive)
        cached = zipimport._zip_directory_cache.get(archive)
        seen = _read_at.get(archive)
        if stamp is not None and seen is not None and seen[0] == stamp and seen[1] is cached:
            self._files = cached
            return
        reread(self)
        # 3.13's zipimporter has no _files (it reads lazily from the
        # cache), so nothing is recorded and the original always runs
        files = getattr(self, "_files", None)
        if stamp is not None and files is not None and zipimport._zip_directory_cache.get(archive) is files:
            _read_at[archive] = (stamp, files)
        else:
            _read_at.pop(archive, None)

    invalidate_caches.keeps_unchanged = True
    return invalidate_caches


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; a second call does nothing."""
    cls = zipimport.zipimporter
    if not getattr(cls.invalidate_caches, "keeps_unchanged", False):
        cls.invalidate_caches = _keep_unchanged(cls.invalidate_caches)
