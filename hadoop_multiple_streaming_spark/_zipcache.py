"""Lazy ``zipimporter`` invalidation for CPython < 3.13.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``). Before
3.13, ``zipimporter.invalidate_caches`` re-parses the archive's whole
central directory, once per zipimporter. A reused worker holds 22 of
them (12 on the 3.5 MB ``pyspark.zip``, 6 on the shipped engine zip,
2 each on py4j's zip and the spark-core jar): 0.22 s per task on a
4-core x86 host, whatever the task does. 3.13 made the call lazy.

:func:`install` gives older interpreters the same effect. The parsed
directory (``zipimport._zip_directory_cache[archive]``) is kept while
the archive's ``(st_mtime_ns, st_size)`` matches the stamp taken just
before the directory was last read. A changed, vanished or never-read
archive falls through to the original eager re-read, so a zip
re-shipped to the same path is still re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

_eager_invalidate = zipimport.zipimporter.invalidate_caches
#: archive path -> (st_mtime_ns, st_size), taken just before this
#: module last had the archive's directory read
_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _stamps.pop(archive, None)
        _eager_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _stamps.get(archive) == stamp:
        self._files = files
        return
    # stat before the read: a write racing the read leaves an older
    # stamp, so the next call reads again
    _eager_invalidate(self)
    if archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` once per process, then
    read each zip on ``sys.path`` once so its stamp dates a read made
    here: the next task's invalidation already costs no read. A no-op
    on 3.13+, whose invalidation is lazy already."""
    if sys.version_info >= (3, 13):
        return
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
