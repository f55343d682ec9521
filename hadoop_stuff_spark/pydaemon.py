"""Python-worker daemon for engine sessions: pyspark's daemon, minus the
per-task re-read of ``pyspark.zip``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, ``setup_spark_files``). The JVM puts
``pyspark.zip`` and the spark-core jar first on the workers' PYTHONPATH, so
a worker imports pyspark through about twenty ``zipimporter``s, one per
subpackage. On Python 3.11 ``zipimporter.invalidate_caches`` re-reads the
whole archive directory, once per importer: ~10 ms per ``pyspark.zip``
importer and ~40 ms per jar importer, 0.2-0.3 s of every Python task before
its UDF runs.

Here ``invalidate_caches`` re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from what that importer last read, so a
rewritten archive is still picked up. The daemon reads each archive once
before it forks, so workers start with every stamp, then runs
``pyspark.daemon.manager()`` unchanged; forked workers inherit the patch.
On Python 3.13, where ``invalidate_caches`` only drops the cache entry, the
rule is still correct and merely saves less.

``get_spark`` names this module as ``spark.python.daemon.module``.
(``spark.python.worker.module`` cannot carry it: ``pyspark.daemon`` ignores
a worker module whose name does not start with ``pyspark``.) Sessions not
built by ``get_spark`` -- the vanilla driver session that imports
``__spark_entry__.py`` among them -- keep the stock daemon and pay the
re-read: the daemon module is static conf, fixed when the context starts.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_read = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive directory only if the archive's
    mtime or size changed since this importer last read it."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _read(self)
        self._read_stamp = stamp


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run as ``python -m``, this file is ``__main__``: patch with the
    # package's copy so workers report the wrapper under its module name
    from hadoop_stuff_spark.pydaemon import main as _main

    _main()
