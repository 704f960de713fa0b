"""Stat-checked ``zipimporter.invalidate_caches``.

Before CPython 3.13, ``importlib.invalidate_caches()`` makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory. PySpark's Python worker calls it at the start of
every task, and a worker holds one importer per package directory
inside ``pyspark.zip`` (1,300+ entries) plus py4j's zip, so a reused
worker spends most of a small task's CPU re-reading archives that have
not changed. The wrapper below re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the stat taken when
that importer last re-read it, or when the stat fails. An importer
whose directory was read at construction has no stat yet, so its first
invalidation re-reads. Directory finders (``FileFinder``) are left
alone: files added with ``addPyFile`` still import.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process; a no-op
    on CPython 3.13+, whose zipimporter already defers the re-read."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or getattr(cls.invalidate_caches, "stat_checked", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self) -> None:
        key = _stat_key(self.archive)
        if key is None or key != getattr(self, "_read_stat", None):
            reread(self)
            self._read_stat = key

    invalidate_caches.stat_checked = True
    cls.invalidate_caches = invalidate_caches
