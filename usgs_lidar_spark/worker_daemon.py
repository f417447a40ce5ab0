"""The engine's Python worker daemon (``spark.python.daemon.module``).

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
each ``zipimporter`` on ``sys.path`` re-read the whole central
directory of its archive at once. Spark always puts ``pyspark.zip`` and
the py4j zip first on the worker path, so every task paid 150-250 ms of
directory reads before it ran any kernel.

Invariant: an archive's directory is re-read only if the archive
changed. The daemon wraps ``zipimporter.invalidate_caches`` so that an
importer re-reads only when the archive's ``(st_mtime_ns, st_size)``
differs from what that importer last read; its first call always
re-reads. ``FileFinder`` invalidation is untouched, so files shipped
with ``addPyFile`` or SparkFiles are still found. Forked workers
inherit the wrapper from the daemon.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(importer) -> None:
    """Re-read ``importer``'s archive directory only if it changed."""
    try:
        st = os.stat(importer.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(importer, "_read_stamp", None) != stamp:
        _reread(importer)
        importer._read_stamp = stamp


if __name__ == "__main__":
    # Install the copy importable by name, so a worker can tell it apart.
    from pyspark import daemon

    from usgs_lidar_spark import worker_daemon

    zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches
    daemon.manager()
