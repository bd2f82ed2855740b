"""Python worker daemon: ``pyspark.daemon`` with zip directories read once.

pyspark calls ``importlib.invalidate_caches()`` before every task.  Before
Python 3.12 each cached ``zipimporter`` then re-reads its archive's whole
central directory — 16 importers over ``pyspark.zip``, the py4j zip and
the spark-core jar, 0.1-0.2 s per task.  :func:`install` makes the re-read happen
only when the archive's ``(st_mtime_ns, st_size)`` changed since it was
last read.  Run as ``python -m mapreduceproject_spark._pyworker``
(``spark.python.daemon.module``); it must print nothing to stdout, which
carries the daemon's port handshake.
"""

import os
import sys
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    if sys.version_info >= (3, 12) or getattr(zipimport, "_read_stamps", None) is not None:
        return  # 3.12+ re-reads lazily on its own; or already installed
    stamps = zipimport._read_stamps = {}
    read_directory = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches

    def _read_directory(archive):
        stamp = _stamp(archive)  # taken first: a write during the read shows next time
        files = read_directory(archive)
        stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = stamps.get(self.archive)
        if files is None or stamp is None or stamp != _stamp(self.archive):
            reread(self)
        else:
            self._files = files

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    install()
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # stamp every cached archive once, before the forks
    manager()
