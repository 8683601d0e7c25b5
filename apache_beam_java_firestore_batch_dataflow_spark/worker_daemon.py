"""PySpark worker daemon that re-reads a zip on ``sys.path`` only when it changed.

Before every task PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``).  Since Python 3.10
``zipimporter.invalidate_caches`` re-parses the archive's whole central
directory in pure Python, and the workers import pyspark from
``pyspark.zip`` with the py4j zip and ``spark-core_*.jar`` on the path
too: 16 cached importers in an RDD task, ~27k entries, 0.2-0.3 s of CPU
per task before the task's own function runs.  Here each importer keeps
the archive's ``(st_mtime_ns, st_size)`` and re-reads it only when that
moved or the archive cannot be stat'ed, so an ``addPyFile`` zip that is
rewritten is still re-read.

``session.build_session`` sets ``spark.python.daemon.module`` to this
module; Spark runs it as ``python -m <module> <worker module>``, and the
worker-module argument passes through to ``pyspark.daemon`` unchanged.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_stamp", None) != stamp:
        _reread(self)
        self._stamp = stamp  # taken before the read: a later change re-reads


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # stamp the importers every forked worker inherits
    manager()
