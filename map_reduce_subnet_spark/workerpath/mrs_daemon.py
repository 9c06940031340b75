"""PySpark worker daemon whose zip importers re-read an archive only
when it has changed.

``session.get_spark`` names this module in ``spark.python.daemon.module``,
so Spark runs it in place of ``pyspark.daemon``. At the start of every
task PySpark's worker calls ``importlib.invalidate_caches()``. Before
CPython 3.13 every ``zipimport.zipimporter`` answers that by reading its
archive's whole central directory again, at once: over ``pyspark.zip``
and the Spark jars a worker holds about ten such importers, and the
re-reads cost some 50 ms of CPU per task, paid before the task's
function runs. CPython 3.13 reads the directory lazily instead
(gh-103200). Here an importer re-reads its archive when the archive's
inode, size, modification or change time moved since it was last read,
and keeps the cached directory otherwise. Like the size-and-mtime check
CPython makes before trusting a ``.pyc``, a rewrite in place that keeps
the size within one tick of the file system's clock goes unseen.

This file's directory is the only entry ``get_spark`` adds to the
workers' PYTHONPATH, so the module imports from any working directory
while the package stays off the workers' path. It imports nothing from
the package. It can go once the workers run CPython 3.13 or later.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat signature of the archive when it was last read
_read_at: dict[str, tuple[int, int, int, int] | None] = {}


def _signature(path: str) -> tuple[int, int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns


def _invalidate_if_changed(self, _reread=zipimport.zipimporter.invalidate_caches):
    sig = _signature(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and files is not None and _read_at.get(self.archive) == sig:
        self._files = files
        return
    _reread(self)
    _read_at[self.archive] = sig


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    from pyspark import daemon

    daemon.manager()
