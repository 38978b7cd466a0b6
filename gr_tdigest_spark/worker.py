"""Python-worker guard: re-read a zip archive's directory only when the
archive has changed.

Every Python task starts in PySpark's ``setup_spark_files``
(``pyspark/worker_util.py:124-144``), which ends with
``importlib.invalidate_caches()`` (``worker_util.py:144``). On CPython
≤ 3.12, ``zipimporter.invalidate_caches`` eagerly re-parses the whole
central directory of its archive (``python3.11/zipimport.py:329-336``);
CPython 3.13 made it lazy (``python3.13/zipimport.py:276-278``). A
reused worker holds one zipimporter per imported package of
``pyspark.zip`` (1,328 entries), two for the py4j zip and two for the
``spark-core`` jar (5,359 entries) that Spark puts on the worker's
``PYTHONPATH``. Re-reading them costs about 250 ms of every task, more
than most sketch stages spend on their rows.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version
that records the archive's ``(st_mtime_ns, st_size, st_ino)`` each time
it reads the directory, and on a later call with the same signature
points the importer at the directory ``zipimport`` already caches. A
changed archive, a failed ``stat`` or an evicted cache entry falls back
to the original method, so an archive that changed is still re-read.
``importlib.invalidate_caches`` itself is untouched: FileFinders are
still invalidated on every task.

The guard acts only inside a Spark Python worker (the JVM sets
``PYTHON_WORKER_FACTORY_SECRET`` for the daemon and its forks, never for
the driver) and only on CPython < 3.13. Workers import this package
when they unpickle a library UDF, so the first task of a new worker
still pays the full cost and its second task one read per archive; with
``spark.python.worker.reuse=false`` every task pays, as before.
"""

from __future__ import annotations

import os
import sys

__all__ = ["install"]

_WORKER_ENV = "PYTHON_WORKER_FACTORY_SECRET"


def install() -> bool:
    """Guard ``zipimporter.invalidate_caches`` in this worker process.

    Returns whether the guard is in place. Idempotent; a no-op outside
    a Spark Python worker and on CPython ≥ 3.13.
    """
    if _WORKER_ENV not in os.environ or sys.version_info >= (3, 13):
        return False
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_reads_on_change", False):
        return True
    read_at = {}  # archive path -> stat signature when last read

    def invalidate_caches(self):
        """Re-read the archive's directory if the archive changed."""
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            sig = None
        cached = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and cached is not None \
                and read_at.get(self.archive) == sig:
            self._files = cached
            return
        original(self)
        read_at[self.archive] = sig

    invalidate_caches._reads_on_change = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
