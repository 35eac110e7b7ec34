"""Python-worker daemon whose zip-import caches are invalidated lazily.

Spark forks one Python worker per concurrent task slot from a single
daemon process (``pyspark/daemon.py``; selected via the
``spark.python.daemon.module`` conf, see Spark's PythonWorkerFactory).
:func:`etlpy_spark.session.get_spark` always selects this module.

Every task starts with ``importlib.invalidate_caches()``
(``pyspark/worker_util.py: setup_spark_files``). On Python 3.11 that call
makes each cached ``zipimporter`` re-read the full central directory of
its archive: one importer per imported package directory of the 3.5 MB
``pyspark.zip`` (14 after importing ``pyspark.worker`` and the Arrow
serializers), ~0.1-0.25 s of worker CPU per task even when the task's
data is empty. A ``frontier_steady`` round runs ~60 Python tasks, so this
fixed tax was most of its executor run time (24.9 s of run time against
2.4 s of JVM CPU on 4 cores).

The wrapper below re-reads an archive's directory only when the file's
``(st_mtime_ns, st_size)`` changed since its last read; otherwise the
cached directory stays. A rewritten zip is still picked up, so the
invalidation contract holds -- CPython 3.12 made the same change
(gh-103200). Run as the daemon, this module installs it before
``manager()`` starts forking, so every worker inherits it.

Measured on 4 cores (Python 3.11.7, Spark 4.1.2): one
``invalidate_caches()`` call over pyspark.zip 112 ms -> 0.1 ms of CPU;
``frontier_steady`` median 134 -> 204 URLs/s over 10 interleaved runs of
each; ``spark.exec_run_s`` per round 24.9 s -> 11.3 s with the job count
unchanged (36).
"""

import os
import zipimport

_read_invalidating = zipimport.zipimporter.invalidate_caches
_read_stamps: dict[str, tuple[int, int] | None] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Reload the archive's file data only if the archive changed."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stamped before the read: a write racing the read re-reads next time
    _read_stamps[self.archive] = stamp
    _read_invalidating(self)


if __name__ == "__main__":
    # ``python -m`` runs this file as ``__main__``: install the wrapper of the
    # module imported under its own name, before ``manager()`` forks workers.
    from etlpy_spark import spark_daemon
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = spark_daemon.invalidate_caches
    manager()
