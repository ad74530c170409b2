"""Per-task cost of a PySpark Python worker: skip re-reading unchanged import
archives.

Before every task, PySpark's worker (``pyspark.worker_util.setup_spark_files``)
calls ``importlib.invalidate_caches()`` so that files added with
``addPyFile`` become importable. CPython's ``zipimporter.invalidate_caches``
answers by re-reading the archive's whole central directory in pure Python.
A worker's ``sys.path`` holds ``pyspark.zip``, the py4j zip and the
spark-core jar, and every package imported from them adds a zip importer
of its own: about 16 importers and 27k directory entries, or 130-210 ms of
every Python task.

``install_zip_guard`` makes that call re-read an archive only when the
archive has changed: when ``(st_mtime_ns, st_size)`` differs from the stamp
taken at the importer's last read, or when the stat fails. The package's
``__init__`` installs it, so it runs in the driver and in every worker that
unpickles package code. Workers are reused across tasks, so each worker
reads its archives in full once.

Import behaviour is unchanged: a new archive on ``sys.path`` gets a new
importer, which reads its directory when it is made; a rewritten archive
changes its stamp and is re-read. Importers that exist when the guard is
installed are stamped then, on the assumption that their archive has not
been rewritten since they last read it (Spark never rewrites its archives
or ``--py-files`` in place).
"""
from __future__ import annotations

import os
import sys
import zipimport


def _stat_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except (OSError, ValueError):
        return None
    return st.st_mtime_ns, st.st_size


def install_zip_guard() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` so that it re-reads
    an archive only when the archive changed. Idempotent."""
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_zip_guard", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        # stat before the read: a rewrite during or after it changes the
        # stamp again, so the next call re-reads
        stamp = _stat_stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            reread(self)
            self._archive_stamp = stamp

    invalidate_caches.__doc__ = reread.__doc__
    invalidate_caches._zip_guard = True
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            importer._archive_stamp = _stat_stamp(importer.archive)
    cls.invalidate_caches = invalidate_caches
