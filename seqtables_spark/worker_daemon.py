"""Python worker daemon: ``pyspark.daemon`` with a stat-guarded
``zipimporter.invalidate_caches``.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. On CPython before 3.13 that
makes every cached ``zipimporter`` re-read its archive's whole central
directory at once: a worker holds about fifteen importers over
``pyspark.zip`` and one over the spark-core jar, so each task paid
~0.1 s before it read a row. The guard re-reads an archive only when
its ``(st_mtime_ns, st_size)`` changed since the last read, or when the
archive has no entry in ``zipimport._zip_directory_cache``; otherwise
the importer points at the cached directory. An archive that can no
longer be stat'ed takes the stock path. CPython 3.13+ reloads lazily
(``zipimporter._get_files``) and gets no guard.

Run as ``python -m seqtables_spark.worker_daemon <worker module>``
(what ``spark.python.daemon.module`` does); importing this module has
no effect.
"""

from __future__ import annotations

import os
import runpy
import zipimport


def install_guard() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` once; return whether the
    guard is in place (False on interpreters that reload lazily)."""
    zi = zipimport.zipimporter
    if hasattr(zi, "_get_files"):
        return False
    if getattr(zi.invalidate_caches, "_stat_guarded", False):
        return True
    stock = zi.invalidate_caches
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            stock(self)
            return
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None and stamps.get(archive) == stamp:
            self._files = files
            return
        # a failed read drops the cache entry, so the next call reads
        # again whatever its stamp
        stock(self)
        stamps[archive] = stamp

    invalidate_caches._stat_guarded = True
    zi.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    install_guard()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
