"""Start-up hook of every Python process a local ``get_spark`` session
starts.

``session.get_spark`` puts this file's directory on
``spark.executorEnv.PYTHONPATH``, and Python imports the first
``sitecustomize`` on ``sys.path`` when an interpreter starts. So this
module runs in the PySpark daemon, before every worker it forks (a
Python data source's planner and committer among them, which import
their worker modules after the fork), and in the processes the JVM
starts without the daemon: the Python streaming source and sink
runners, one per drain. It does two things there, then runs the next
``sitecustomize`` on ``sys.path``, which it shadows.

Installed PySpark over Spark's archives. Spark puts
``$SPARK_HOME/python/lib/pyspark.zip`` and ``py4j-<version>-src.zip``
first on every worker's ``sys.path``. Those archives hold sources and
no bytecode, so every process compiled PySpark from source: on a 4-core
VM, importing ``pyspark.daemon`` and ``pyspark.worker`` took 1.15-1.25 s
from the zip against 0.25-0.27 s from the installed, bytecode-compiled
pyspark of the same release, and a Python streaming key paid that on
every drain, since each drain starts a new process. For each such archive on ``sys.path``
this module looks for the package with the archives taken off the path
(``importlib.util.find_spec``, which imports nothing) and drops the
archive when the installed ``<package>/version.py`` is byte-identical
to the archive's. On a different version, no installed copy or any
read error the archive stays where Spark put it.

Zip importers that re-read an archive only when it has changed. At the
start of every task PySpark's worker calls
``importlib.invalidate_caches()``. Before CPython 3.13 every
``zipimport.zipimporter`` answers that by reading its archive's whole
central directory again, at once: over the Spark jar and any archive
left on the path that costs tens of milliseconds of CPU per task, paid
before the task's function runs. CPython 3.13 reads the directory
lazily instead (gh-103200). Here an importer re-reads its archive when
the archive's inode, size, modification or change time moved since it
was last read, and keeps the cached directory otherwise. Like the
size-and-mtime check CPython makes before trusting a ``.pyc``, a
rewrite in place that keeps the size within one tick of the file
system's clock goes unseen.

This file's directory is the only entry ``get_spark`` adds to the
workers' PYTHONPATH, so the package stays off the workers' path. It
imports nothing from the package.
"""

from __future__ import annotations

import importlib.machinery
import importlib.util
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


def _shipped_package(entry: str) -> str | None:
    """The package a Spark-shipped source archive on ``sys.path`` holds."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith("-src.zip"):
        return "py4j"
    return None


def _installed_matches(archive: str, package: str) -> bool:
    """Whether ``sys.path`` finds ``package`` installed with a
    ``version.py`` byte-identical to the one in ``archive``."""
    try:
        spec = importlib.util.find_spec(package)
        if spec is None or not spec.submodule_search_locations:
            return False
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
            installed = f.read()
        return installed == zipimport.zipimporter(archive).get_data(f"{package}/version.py")
    except (ImportError, OSError, ValueError):  # zipimport.ZipImportError is an ImportError
        return False


def _prefer_installed_packages() -> None:
    """Drop each shipped archive whose package is installed at the same
    version, so its import resolves to the installed copy."""
    shipped = {entry: pkg for entry in sys.path if (pkg := _shipped_package(entry))}
    if not shipped:
        return
    path = sys.path[:]
    keep = set(shipped)
    sys.path[:] = [entry for entry in path if entry not in shipped]
    try:
        keep = {a for a, pkg in shipped.items() if not _installed_matches(a, pkg)}
    finally:
        sys.path[:] = [entry for entry in path if entry not in shipped or entry in keep]
    for archive in shipped.keys() - keep:
        sys.path_importer_cache.pop(archive, None)


def _run_next_sitecustomize() -> None:
    """Run the ``sitecustomize`` this one shadows: the next one on
    ``sys.path`` past this file's directory."""
    here = os.path.dirname(os.path.abspath(__file__))
    entries = [os.path.abspath(entry or os.curdir) for entry in sys.path]
    if here not in entries:
        return
    spec = importlib.machinery.PathFinder.find_spec(
        "sitecustomize", sys.path[entries.index(here) + 1:])
    if spec is not None and spec.loader is not None:
        spec.loader.exec_module(importlib.util.module_from_spec(spec))


_prefer_installed_packages()
if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
_run_next_sitecustomize()
