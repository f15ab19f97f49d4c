"""PySpark's worker daemon, with zip directories re-read only when the
archive changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). CPython 3.11's
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory right away, and a worker's importer cache holds about 16 zip
importers (pyspark.zip, py4j, the spark-core jar): 76-125 ms of every
Python task on a 4-core VM, before the task's function runs. Here an
importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` has changed since its last read. The stamps
are taken once before the daemon forks, so every worker inherits them.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
"""

import importlib
import os
import zipimport

import pyspark.daemon

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self):
    """Re-read the archive's directory unless it is unchanged since the
    last read; a missing archive is always handed to the stock method."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _reread(self)
        self._archive_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()
    pyspark.daemon.manager()
