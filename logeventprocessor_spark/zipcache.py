"""Stat-keyed zip directory cache for reused Python workers.

A PySpark worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). On CPython < 3.12
that makes every ``zipimporter`` re-parse its archive's central
directory -- pyspark.zip holds ~1,300 files and a worker holds one
importer per package directory inside it, so each task re-reads the
same directory a dozen or more times (0.15-0.28 CPU-s a task, measured
on a 4-core VM, against ~0.01 s of real work). CPython 3.12 made the
re-read lazy (gh-103200); this module does the equivalent for 3.11.

``install()`` replaces only ``zipimport.zipimporter.invalidate_caches``:
an archive is re-read when its ``(st_mtime_ns, st_size, st_ino)``
differs from the last read's, and otherwise keeps the directory already
in ``zipimport._zip_directory_cache``. So a reused worker pays the read
once, and a rewritten archive is still re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat key taken just before its last directory read
_READ_STAT: dict[str, tuple[int, int, int] | None] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    """Re-read the archive's directory only if its stat key moved."""
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    unchanged = key is not None and _READ_STAT.get(self.archive) == key
    if unchanged and files is not None:
        self._files = files
        return
    # stat before reading: a rewrite racing the read leaves an old key,
    # so the next call reads again
    try:
        self._files = zipimport._read_directory(self.archive)
        zipimport._zip_directory_cache[self.archive] = self._files
        _READ_STAT[self.archive] = key
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(self.archive, None)
        self._files = {}


def install() -> bool:
    """Install the cache on CPython < 3.12; True if it is in place."""
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
