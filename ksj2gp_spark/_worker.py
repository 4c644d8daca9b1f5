"""Python-worker guard: stop each task from re-reading every zip archive
on ``sys.path``.

Before each task, pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On Python 3.11 and 3.12 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory. A worker holds one per imported package
directory of ``pyspark.zip`` and the py4j zip, 16 in all, so the call
takes ~0.2 s, paid by every task of every Python-UDF job.

:func:`install` swaps ``zipimport.zipimporter.invalidate_caches`` for a
version that re-reads an archive only when its ``(st_mtime_ns,
st_size)`` differs from the last read. Otherwise the importer is pointed
at the directory already in ``zipimport._zip_directory_cache``, which
holds what a re-read would give. An archive rewritten in place, or one
that can no longer be stat'ed, is re-read as before.

The package installs it once per worker process, on import, and only
inside a Spark task (``pyspark.TaskContext.get()`` is not ``None``):
every package UDF imports the package when its closure is loaded, so
none needs to call it, and the driver is never patched. The import
happens after that task's own ``setup_spark_files``, so a worker's first
task still pays the re-read and its later tasks do not.

Trade-offs:

* It changes interpreter state that any other UDF run by the same
  worker shares. An archive rewritten in place with the same size and
  modification time (to the nanosecond) would keep its old directory.
* It does nothing with ``spark.python.worker.reuse=false``: each task
  then gets a fresh worker, and the first task pays anyway.
* On Python 3.13 and later, ``zipimporter.invalidate_caches`` only drops
  the cached directory, so there is nothing to save; the guard then
  keeps the directory while the archive is unchanged, which is harmless.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self) -> None:
    """Re-read this importer's archive only if it changed since the last
    read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stamps.pop(self.archive, None)
        _reread(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Put the guard in place (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


def install_in_task() -> None:
    """:func:`install`, if this process is running a Spark task."""
    # a process that has not imported pyspark runs no task
    if "pyspark" in sys.modules:
        from pyspark import TaskContext

        if TaskContext.get() is not None:
            install()
