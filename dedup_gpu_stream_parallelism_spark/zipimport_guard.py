"""Stat-guarded ``zipimporter.invalidate_caches`` for PySpark workers.

A PySpark worker calls ``importlib.invalidate_caches()`` before EVERY task
(``pyspark/worker_util.py:setup_spark_files``).  Before CPython 3.13 each
``zipimporter`` answers that call by re-parsing its archive's whole central
directory, and a warm worker holds about 16 of them (one per imported
sub-package of ``pyspark.zip``, plus the Spark core jar and the py4j zip —
several thousand entries in all).  That is 150-300 ms of pure overhead per
Python task, before the task reads its first row.  CPython 3.13 made the
reset lazy, so there the stock method stays.

The guard re-reads an archive only when its ``(st_mtime_ns, st_size)``
changed since the last read, so a rewritten archive (a re-shipped
``--py-files`` zip) is still picked up on the next task.  Importers over one
archive share the freshly read directory instead of parsing it once each.

This module imports nothing from pyspark: the package ``__init__`` installs
the guard on import, and bare-config imports must stay pyspark-free.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) at its last directory read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def guarded_invalidate_caches(self: zipimport.zipimporter) -> None:
    """Reload the archive's directory only if the file changed on disk."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and _stamps.get(self.archive) == stamp and cached is not None:
        self._files = cached
        return
    # stat BEFORE reading: a write racing the read leaves a stale stamp,
    # which only costs one more re-read on the next call
    _stock_invalidate_caches(self)
    if stamp is not None:
        _stamps[self.archive] = stamp


def install() -> bool:
    """Install the guard on ``zipimport.zipimporter`` (idempotent).

    Returns whether the guard is installed; on Python >= 3.13 this does
    nothing, because the stock reset there is already lazy."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches
    return True


def in_pyspark_worker() -> bool:
    """True inside a PySpark Python worker (set by ``setup_spark_files``),
    read from ``sys.modules`` so that the check never imports pyspark."""
    files = sys.modules.get("pyspark.core.files")
    spark_files = getattr(files, "SparkFiles", None)
    return bool(getattr(spark_files, "_is_running_on_worker", False))
