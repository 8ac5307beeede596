"""Stat-keyed zip-directory cache for the Python workers.

Before running each task a PySpark worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On CPython 3.10-3.12 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central directory
at once.  A worker holds one zipimporter per package directory of
``pyspark.zip``, plus more for every ``--py-files`` archive.  So each task
pays ~0.2 CPU-s, even when it handles one row, to re-read archives that have
not changed.  CPython 3.13 made ``invalidate_caches`` lazy; this module
backports the saving for older versions.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that keeps an ``(st_mtime_ns, st_size, st_ino)`` stamp per archive.  While
the stamp is unchanged and the archive's directory is still in
``zipimport._zip_directory_cache``, it re-uses that directory.  Otherwise
(first call for an archive, archive rewritten, replaced or deleted) it
runs the original method, so a changed archive is re-read exactly as on
stock CPython.  The package installs it on import, so every worker that
runs an engine task is covered from its next task on (the hook lands while
the first task unpickles its UDF, after that task's invalidate).
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

__all__ = ["install", "installed"]

# archive path -> stamp of the file its cached directory was read from
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _make_invalidate(original):
    @functools.wraps(original)
    def invalidate_caches(self):
        archive = self.archive
        # stat before reading: if the archive changes in between, the next
        # call sees a different stamp and reads it again
        stamp = _stamp(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None and _stamps.get(archive) == stamp:
            self._files = files
            return
        original(self)
        if stamp is not None and archive in zipimport._zip_directory_cache:
            _stamps[archive] = stamp
        else:
            _stamps.pop(archive, None)

    invalidate_caches.stat_keyed = True
    return invalidate_caches


def installed() -> bool:
    """True when ``zipimporter.invalidate_caches`` is the stat-keyed one."""
    method = getattr(zipimport.zipimporter, "invalidate_caches", None)
    return getattr(method, "stat_keyed", False)


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` once per process.  Returns
    True when this call patched it; a repeat call, CPython >= 3.13 (lazy
    already) and CPython < 3.10 (no such method) leave it alone."""
    if not (3, 10) <= sys.version_info < (3, 13) or installed():
        return False
    zipimport.zipimporter.invalidate_caches = _make_invalidate(
        zipimport.zipimporter.invalidate_caches
    )
    return True
