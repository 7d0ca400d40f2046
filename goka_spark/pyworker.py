"""Python worker daemon of goka_spark sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython 3.10-3.12 that makes each cached ``zipimporter``
re-read its whole archive directory: 14+ importers over ``pyspark.zip``
(1328 entries), about 110 ms of CPU per task. This daemon patches
``zipimporter.invalidate_caches`` before workers fork, so an archive is
re-read only when its ``(st_ino, st_size, st_mtime_ns)`` changed since
this process last read it; a changed or missing archive goes through
CPython's own method. CPython 3.13+ only drops the cache entry there, so
nothing is installed. The daemon loop itself is ``pyspark.daemon``'s.
"""

import importlib
import os
import sys
import zipimport

_cpython_invalidate = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}  # archive -> (st_ino, st_size, st_mtime_ns) at its last read


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self):
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    if files is not None and stamp is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _cpython_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp


def install() -> None:
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # read each archive once, stamped


if __name__ == "__main__":
    from goka_spark.pyworker import install  # the patch's __module__ names this module

    install()
    from pyspark import daemon

    daemon.manager()
