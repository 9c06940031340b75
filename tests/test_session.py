"""The session's Python-worker set-up (``session.py``, "Python workers").

A Python task's fixed cost is pinned where it is paid: inside a worker
of the test session, an ``importlib.invalidate_caches()`` re-reads no
unchanged zip archive, yet a changed archive is still seen. The
socket-path guard is pinned as a pure function, and end to end on
sessions whose temp dir sits at either side of it.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import textwrap
import zipfile

import pandas as pd
import pytest

from map_reduce_subnet_spark.session import (
    SPARK_SOCKET_DIR_MAX,
    UNIX_SOCKET_PATH_MAX,
    python_socket_confs,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# what Spark appends to the socket dir: "/.<uuid4>.sock"
SOCKET_NAME_BYTES = 43


def _write_module_zip(path: str, module: str, version: int) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{module}.py", f"VERSION = {version}\n")


def _run_in_worker(spark, probe, schema: str) -> dict:
    """Run ``probe`` (no arguments, returns a dict) in one Python task."""

    def stage(batches):
        for _ in batches:
            pass
        yield pd.DataFrame([probe()])

    return spark.range(1, numPartitions=1).mapInPandas(stage, schema).collect()[0].asDict()


def test_worker_does_not_reread_unchanged_zips(spark, tmp_path):
    archive = str(tmp_path / "unchanged.zip")
    _write_module_zip(archive, "mrs_probe_unchanged", 1)

    def probe():
        import importlib
        import zipimport

        sys.path.insert(0, archive)
        read = zipimport._read_directory
        reads = []

        def spy(path):
            reads.append(path)
            return read(path)

        try:
            importlib.import_module("mrs_probe_unchanged")
            importlib.invalidate_caches()
            zipimport._read_directory = spy
            importlib.invalidate_caches()
            zips = sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
        finally:
            zipimport._read_directory = read
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop("mrs_probe_unchanged", None)
        return {"zips": zips, "reads": len(reads)}

    got = _run_in_worker(spark, probe, "zips long, reads long")
    assert got["zips"] >= 1
    assert got["reads"] == 0


def test_worker_sees_a_rewritten_zip(spark, tmp_path):
    archive = str(tmp_path / "rewritten.zip")
    _write_module_zip(archive, "mrs_probe_rewritten", 1)

    def probe():
        import importlib
        import zipfile

        sys.path.insert(0, archive)
        try:
            mod = importlib.import_module("mrs_probe_rewritten")
            before = mod.VERSION
            with zipfile.ZipFile(archive, "w") as zf:
                zf.writestr("mrs_probe_rewritten.py", "VERSION = 2\n")
            importlib.invalidate_caches()
            after = importlib.reload(mod).VERSION
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop("mrs_probe_rewritten", None)
        return {"before": before, "after": after}

    assert _run_in_worker(spark, probe, "before long, after long") == {"before": 1, "after": 2}


def _dir_of_bytes(n: int, char: str = "a") -> str:
    """An absolute path of exactly ``n`` UTF-8 bytes, padded with ``char``."""
    width = len(char.encode())
    return "/" + char * ((n - 2) // width) + "b" * ((n - 2) % width + 1)


def test_socket_confs_short_temp_dir_uses_unix_socket():
    assert python_socket_confs("/tmp") == {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": "/tmp",
    }


def test_socket_confs_long_temp_dir_stays_on_tcp():
    assert python_socket_confs("/" + "d" * 99) == {
        "spark.python.unix.domain.socket.enabled": "false"
    }


def test_socket_confs_boundaries():
    def unix(d):
        return python_socket_confs(d)["spark.python.unix.domain.socket.enabled"] == "true"

    # Spark's own limit on the dir, in chars
    assert unix(_dir_of_bytes(SPARK_SOCKET_DIR_MAX))
    assert not unix(_dir_of_bytes(SPARK_SOCKET_DIR_MAX + 1))
    # the socket path's byte limit, reached with two-byte chars first
    fits = _dir_of_bytes(UNIX_SOCKET_PATH_MAX - SOCKET_NAME_BYTES, "é")
    over = _dir_of_bytes(UNIX_SOCKET_PATH_MAX - SOCKET_NAME_BYTES + 1, "é")
    assert len(fits) <= SPARK_SOCKET_DIR_MAX and len(over) <= SPARK_SOCKET_DIR_MAX
    assert unix(fits)
    assert not unix(over)


_SESSION_SCRIPT = textwrap.dedent(
    """
    import sys, tempfile
    sys.path.insert(0, sys.argv[1])
    from map_reduce_subnet_spark.session import get_spark
    for tmp in sys.argv[2:]:
        tempfile.tempdir = tmp
        spark = get_spark(master="local[1]")
        rows = spark.range(3, numPartitions=1).mapInPandas(lambda b: b, "id long").collect()
        print(spark.conf.get("spark.python.unix.domain.socket.enabled"), len(rows))
        spark.stop()
    """
)


def test_sessions_start_at_either_side_of_the_socket_guard():
    """A temp dir too long for a Unix socket costs speed, not the
    session; one at the exact byte limit gets the socket and works."""
    base = tempfile.mkdtemp(prefix="mrs-")
    try:
        room = UNIX_SOCKET_PATH_MAX - SOCKET_NAME_BYTES - len(base.encode()) - 1
        if room < 2:
            pytest.skip(f"the temp dir {base!r} leaves no room below the socket limit")
        at_limit = os.path.join(base, "é" * (room // 2) + "b" * (room % 2))
        too_long = os.path.join(base, "d" * 100)
        for d in (at_limit, too_long):
            os.makedirs(d)
        env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
        proc = subprocess.run(
            [sys.executable, "-c", _SESSION_SCRIPT, ROOT, at_limit, too_long],
            cwd=base, env=env, capture_output=True, text=True, timeout=300,
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split() == ["true", "3", "false", "3"]
