"""Per-task cost of a Spark Python worker: the zip directory re-reads.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark/worker_util.py:144``, ``setup_spark_files``). On
CPython before 3.13 that makes each ``zipimport.zipimporter`` on the
worker's ``sys.path`` re-read its archive's central directory at once.
A worker holds 16 of them: 12 over ``pyspark.zip`` (1,328 entries),
2 over the Spark core jar that Spark puts on the worker path (5,359
entries) and 2 over the py4j zip. On a 4-core host one call inside a
task of a 4-task stage took 114-250 ms (median 204 ms over 20 tasks);
with the stat check it takes 0.2 ms.

CPython 3.13 changed ``zipimporter.invalidate_caches`` to only drop
the archive's cache entry, so the directory is read again on the
next lookup. :func:`install_zip_stat_check` gives older interpreters a
cheaper form of the same laziness: the directory is re-read only when
the archive's ``(st_mtime_ns, st_size, st_ino)`` changed since the last
read. Kernels call it at the start of their ``mapInArrow`` generator, so
it runs in workers only; a worker's first task still pays once, and
workers are reused for the session.
"""

from __future__ import annotations

import os
import sys
import zipimport

# the stdlib zipimporter.invalidate_caches, once installed
_stdlib_invalidate = None
# archive path -> (stat signature, directory dict) of its last read
_read: dict = {}


def _signature(path: str) -> tuple:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read of an
    archive whose stat signature is unchanged since its last read."""
    try:
        sig = _signature(self.archive)
    except OSError:
        _read.pop(self.archive, None)
        _stdlib_invalidate(self)
        return
    last = _read.get(self.archive)
    if last is not None and last[0] == sig:
        self._files = last[1]
        zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _stdlib_invalidate(self)
    if self.archive in zipimport._zip_directory_cache:
        _read[self.archive] = (sig, self._files)
    else:
        _read.pop(self.archive, None)


def install_zip_stat_check() -> None:
    """Replace ``zipimport.zipimporter.invalidate_caches`` in this process
    with the stat-checked form. Idempotent; a no-op on CPython ≥ 3.13.

    The archives of the zipimporters already on ``sys.path`` count as
    read at their current stat: in a worker the task's own
    ``invalidate_caches()`` has just re-read them."""
    global _stdlib_invalidate
    if sys.version_info >= (3, 13) or _stdlib_invalidate is not None:
        return
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            try:
                _read.setdefault(imp.archive, (_signature(imp.archive), imp._files))
            except OSError:
                pass
    _stdlib_invalidate = zipimport.zipimporter.invalidate_caches
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
