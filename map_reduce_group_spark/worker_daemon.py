"""Python-worker daemon for the engine's sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py`` ``setup_spark_files``). Before
Python 3.12, ``zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, and a worker's import path holds zipimporters over
``pyspark.zip`` (1,328 members), the py4j zip and the ``spark-core`` jar
(5,359 members) — 16 of them, 5-29 ms each, so 125-175 ms of fixed cost per
task. This module makes that call re-read an archive only when its
``(st_mtime_ns, st_size, st_ino)`` changed since this process last read it,
the check ``FileFinder`` already does for directories, then runs PySpark's
own daemon. It runs before the daemon forks, so every worker inherits it.
Python 3.12 reworked the method; there the module changes nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def keep_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that did not change."""
    if sys.version_info >= (3, 12):
        return
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int, int]] = {}  # archive -> stamp of the cached read

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            stamps.pop(self.archive, None)
            reread(self)
            return
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files  # the latest read, possibly by another importer
            return
        reread(self)  # stat first: a change during the read shows next time
        if self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    keep_unchanged_zip_directories()
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # stamp each archive once, before the workers fork
    manager()


if __name__ == "__main__":
    # Spark runs this file as ``python -m``; call it through its import name
    # so the patched method is attributed to this module, not ``__main__``.
    from map_reduce_group_spark.worker_daemon import main as _main

    _main()
