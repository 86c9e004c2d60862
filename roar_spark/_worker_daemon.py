"""Python worker daemon: ``pyspark.daemon`` with cheap import-cache
invalidation.

``get_spark`` sets this module as ``spark.python.daemon.module``. The JVM
starts it once per executor; it forks one Python worker per task slot, and
the forks inherit everything done here.

Why it exists: every Python task starts in
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. Before Python 3.13 that makes every
``zipimport.zipimporter`` re-read its archive's whole central directory.
Workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328
entries) through one importer per package directory, 16 of them over that
one file in a running worker, so each task re-parsed the same directory 16
times before doing any work: 120-220 ms a task with one task slot, 146-630
ms in the gateway benchmark's micro-batches (SCALE.md, "Python task
start-up").

The replacement re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` changed since the last read (close to
3.13's lazy invalidation), so a rewritten archive is still re-read. On
3.13+ nothing is patched. The daemon itself then runs
``pyspark.daemon.manager()`` unchanged.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> stat stamp taken just before its directory was last read
_stamps: dict[str, tuple[int, int, int] | None] = {}
_read_archive = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read this importer's archive directory only if the file changed
    since the last read; otherwise point it at the cached directory."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _read_archive(self)
    _stamps[self.archive] = stamp  # a failed read left no cached directory


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` (Python < 3.13 only; 3.13
    already invalidates lazily). Returns whether the patch is active."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    # patch from the importable copy of this module, so a worker's
    # zipimporter.invalidate_caches names roar_spark._worker_daemon
    from roar_spark._worker_daemon import install as install_named

    if install_named():
        # one read per archive here, so the forked workers start with every
        # stamp known and their per-task invalidation reads nothing
        importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
