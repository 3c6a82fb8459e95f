"""Python-worker side: a reused worker stops re-reading its zip archives
on every task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11
that calls ``zipimporter.invalidate_caches`` on every zipimporter in
``sys.path_importer_cache`` (one per package directory imported from an
archive), and each one re-reads its archive's whole central directory.
A worker that has run an engine kernel holds 16 of them: 12 re-read
pyspark.zip (1,328 entries), 2 the spark-core jar (5,359) and 2 the
py4j zip, so every task pays for 26,672 directory entries, 170-390 ms
on a 4-vCPU host.

``install`` replaces that method with one that re-reads an archive only
when its stat signature (inode, size, mtime, ctime) differs from the one
taken before its last read; otherwise it reuses the directory already in
``zipimport._zip_directory_cache``. An archive that changed is still
re-read, so imports never see a stale directory. CPython 3.12 made the
refresh lazy, and ``install`` leaves the defaults there and on any
interpreter whose zipimport lacks the 3.11 internals it patches.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat signature taken just before its last directory read
_signatures: dict[str, tuple] = {}
_stock_invalidate = None


def _signature(path: str) -> tuple:
    st = os.stat(path)
    return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def _invalidate_caches(self) -> None:
    """Reload the archive's directory only when the archive changed."""
    try:
        sig = _signature(self.archive)
    except OSError:
        sig = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and files is not None and _signatures.get(self.archive) == sig:
        self._files = files
        return
    _signatures.pop(self.archive, None)
    _stock_invalidate(self)
    # sig was taken before the read, so a change during the read shows
    # as a new signature next time
    if sig is not None and self.archive in zipimport._zip_directory_cache:
        _signatures[self.archive] = sig


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` once per process; returns
    whether the stat-checked refresh is in place."""
    global _stock_invalidate
    cls = zipimport.zipimporter
    if cls.__dict__.get("invalidate_caches") is _invalidate_caches:
        return True
    if (
        sys.implementation.name != "cpython"
        or sys.version_info >= (3, 12)
        or "invalidate_caches" not in cls.__dict__
        or not hasattr(zipimport, "_zip_directory_cache")
        or not hasattr(zipimport, "_read_directory")
    ):
        return False
    _stock_invalidate = cls.invalidate_caches
    cls.invalidate_caches = _invalidate_caches
    return True
