"""Zip-import cache invalidation that re-reads an archive only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``).  Up to CPython 3.11 that
makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-parse
its archive's whole directory at once: ``pyspark.zip`` holds 1,328 entries and
has one importer per imported sub-package, so each Python task spent 0.2-0.4 s
there before it read its first batch.  CPython 3.12 made the invalidation lazy
(gh-103200).

:func:`install` gives older versions that cost: an archive is re-read only when
its ``(st_ino, st_mtime_ns, st_size)`` differs from the stamp taken before its
last read, and the importers of one archive share that read, so a changed
archive is still re-read.  ``ddsketch_spark/__init__`` calls it, and every
library UDF unpickles from a ``ddsketch_spark`` module, so a reused worker has
it from its first library task on.  From CPython 3.12 on it does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def install() -> None:
    """Patch ``zipimport`` once per process (idempotent; no-op on 3.12+)."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or cls.invalidate_caches.__module__ == __name__:
        return
    read_directory, eager = zipimport._read_directory, cls.invalidate_caches
    last_read = {}  # archive path -> (stamp taken before the read, directory read)

    def _read_directory(archive):
        last_read.pop(archive, None)
        stamp = _stamp(archive)
        files = read_directory(archive)
        last_read[archive] = stamp, files
        return files

    def invalidate_caches(self):
        stamp, files = last_read.get(self.archive, (None, None))
        if stamp is None or stamp != _stamp(self.archive):
            return eager(self)
        self._files = zipimport._zip_directory_cache[self.archive] = files

    zipimport._read_directory = _read_directory
    cls.invalidate_caches = invalidate_caches
