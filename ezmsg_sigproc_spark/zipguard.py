"""Stat guard for zip-archive directory re-reads on Python < 3.13.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``), so that archives shipped
with ``addPyFile`` after it started become importable. Before Python 3.13,
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory on the spot. A worker that imported pyspark from ``pyspark.zip``
holds one importer per imported sub-package (16 of them, over a 1,328-entry
directory), so every task re-read that directory 16 times: about 0.2 CPU-s
per task on a 4-vCPU host, for a task that does no work.

:func:`install` makes the re-read conditional: an importer whose archive
still has the ``(st_mtime_ns, st_size)`` of the last read of that archive
takes that read's directory instead of reading it again. An archive that
changed, or that cannot be stat'ed, is re-read exactly as before. Python 3.13
made ``invalidate_caches`` lazy, so there the guard is not installed.

The package installs it on import, so every engine function that runs in a
worker installs it there.
"""

from __future__ import annotations

import os
import sys
import zipimport

_eager_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> ((st_mtime_ns, st_size) stat'ed before the read, directory)
_last_read: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _guarded_invalidate(self) -> None:
    stamp = _stamp(self.archive)
    last = _last_read.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = last[1]
        zipimport._zip_directory_cache[self.archive] = last[1]
        return
    # stat'ed before the read: an archive rewritten in between is recorded
    # with its old stamp and so re-read next time, never served stale
    _eager_invalidate(self)
    if stamp is not None and self._files:
        _last_read[self.archive] = (stamp, self._files)
    else:
        _last_read.pop(self.archive, None)


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` (no-op on Python >= 3.13)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _guarded_invalidate
