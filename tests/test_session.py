"""The session's Python-worker set-up (``session.py``, "Python workers"),
and its driver calls (``session.py``, "Driver calls").

A Python process's fixed cost is pinned where it is paid: a worker of
the test session, a data source planner and a streaming source runner
(a process started without the daemon) all import the installed
PySpark rather than Spark's source-only archives, and inside
a worker an ``importlib.invalidate_caches()`` re-reads no unchanged zip
archive, yet a changed archive is still seen. The start-up module's
archive check and its chain-loading run in plain subprocesses with
synthetic archives. The socket-path guard is pinned as a pure
function, and end to end on sessions whose temp dir sits at either
side of it. The gateway commands a Column call sends, and the error
context that costs, are pinned in a fresh interpreter, as is the shape
of ``scripts/driver_calls.py``'s report.
"""

from __future__ import annotations

import importlib.util
import json
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
    WORKER_PATH,
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


def _is_shipped_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return name == "pyspark.zip" or (name.startswith("py4j-") and name.endswith("-src.zip"))


def test_worker_imports_installed_pyspark(spark):
    def probe():
        import py4j
        import pyspark

        return {"pyspark": pyspark.__file__, "py4j": py4j.__file__,
                "path": os.pathsep.join(sys.path)}

    got = _run_in_worker(spark, probe, "pyspark string, py4j string, path string")
    assert os.path.isfile(got["pyspark"]), got
    assert os.path.isfile(got["py4j"]), got
    assert not [e for e in got["path"].split(os.pathsep) if _is_shipped_archive(e)], got


def test_planner_process_imports_installed_pyspark(spark):
    """A Python data source's ``schema()`` runs in a planner process,
    which imports its worker module after the daemon forks it; it
    names its column after where that process imported ``pyspark``
    from."""
    from pyspark.sql.datasource import DataSource

    class PysparkOrigin(DataSource):
        @classmethod
        def name(cls):
            return "mrs_pyspark_origin"

        def schema(self):
            import os

            import pyspark

            return ("installed" if os.path.isfile(pyspark.__file__) else "archive") + " string"

    spark.dataSource.register(PysparkOrigin)
    assert spark.read.format("mrs_pyspark_origin").load().columns == ["installed"]


def test_stream_source_runner_imports_installed_pyspark(spark):
    """A Python streaming source's reader runs in a process the JVM
    starts without the daemon, one per drain; its one row names where
    that process imported ``pyspark`` from."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    from map_reduce_subnet_spark.streaming.jobs import _run_to_memory

    class OriginReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"done": 0}

        def read(self, start):
            if start["done"]:
                return iter([]), start
            import os

            import pyspark

            origin = "installed" if os.path.isfile(pyspark.__file__) else "archive"
            return iter([(origin,)]), {"done": 1}

        def readBetweenOffsets(self, start, end):
            return self.read(start)[0]

    class OriginSource(DataSource):
        @classmethod
        def name(cls):
            return "mrs_stream_origin"

        def schema(self):
            return "origin string"

        def simpleStreamReader(self, schema):
            return OriginReader()

    spark.dataSource.register(OriginSource)
    stream = spark.readStream.format("mrs_stream_origin").load()
    rows = _run_to_memory(stream, spark, drain="process_all").collect()
    assert [r.origin for r in rows] == ["installed"]


_PATH_PROBE = textwrap.dedent(
    """
    import json, sys
    import sitecustomize
    print(json.dumps({"hook": sitecustomize.__file__, "path": sys.path,
                      "decoy": getattr(sys, "mrs_decoy_ran", False)}))
    """
)


def _shipped_zip(path, package: str, version: bytes) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{package}/__init__.py", "")
        zf.writestr(f"{package}/version.py", version)
    return str(path)


def _installed_version(package: str) -> bytes:
    spec = importlib.util.find_spec(package)
    with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
        return f.read()


def _start_python(cwd, pythonpath: list[str], *flags: str) -> dict:
    """Start an interpreter with ``pythonpath`` and report which
    ``sitecustomize`` it ran and its ``sys.path``."""
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(pythonpath)}
    proc = subprocess.run([sys.executable, *flags, "-c", _PATH_PROBE], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout)
    assert os.path.dirname(got["hook"]) == WORKER_PATH
    return got


def test_archive_with_other_version_stays_on_path(tmp_path):
    archive = _shipped_zip(tmp_path / "lib" / "pyspark.zip", "pyspark", b"__version__ = '0.0.1'\n")
    assert archive in _start_python(tmp_path, [archive, WORKER_PATH])["path"]


def test_archive_with_installed_version_is_dropped(tmp_path):
    archives = [
        _shipped_zip(tmp_path / "lib" / "pyspark.zip", "pyspark", _installed_version("pyspark")),
        _shipped_zip(tmp_path / "lib" / "py4j-0.0-src.zip", "py4j", _installed_version("py4j")),
    ]
    path = _start_python(tmp_path, [*archives, WORKER_PATH])["path"]
    assert not [e for e in path if _is_shipped_archive(e)]


def test_archive_stays_without_installed_copy(tmp_path):
    """``-S`` keeps site-packages off the path, so nothing is installed;
    the probe then imports the start-up module itself."""
    archive = _shipped_zip(tmp_path / "lib" / "pyspark.zip", "pyspark", _installed_version("pyspark"))
    assert archive in _start_python(tmp_path, [archive, WORKER_PATH], "-S")["path"]


def test_shadowed_sitecustomize_still_runs(tmp_path):
    decoy = tmp_path / "decoy"
    decoy.mkdir()
    (decoy / "sitecustomize.py").write_text("import sys\nsys.mrs_decoy_ran = True\n")
    archive = _shipped_zip(tmp_path / "lib" / "pyspark.zip", "pyspark", _installed_version("pyspark"))
    got = _start_python(tmp_path, [archive, WORKER_PATH, str(decoy)])
    assert got["decoy"] is True
    assert archive not in got["path"]


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


_CALLS_SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from py4j.clientserver import ClientServerConnection
    from pyspark.sql import functions as F
    from map_reduce_subnet_spark.session import get_spark

    spark = get_spark(master="local[1]")
    out = {"conf": spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")}
    for _ in range(5):
        F.col("x")
    send, sent = ClientServerConnection.send_command, []

    def counted(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    ClientServerConnection.send_command = counted
    for _ in range(50):
        F.col("x")
    ClientServerConnection.send_command = send
    out["per_call"] = len(sent) / 50
    try:
        spark.range(1).select(F.lit("x").cast("int")).collect()
    except Exception as ex:
        out["condition"] = ex.getCondition()
        out["message"] = str(ex)
    spark.stop()
    print(json.dumps(out))
    """
)


def test_column_calls_skip_the_call_site_capture(tmp_path):
    """``get_spark`` turns off PySpark's per-call call-site capture: a
    warm ``F.col`` sends at most 4 gateway commands (13 with the
    capture). What is given up is the Python caller in a runtime
    error's ``== DataFrame ==`` context: the error class and message
    stay, and the context names the JVM's reflective entry point
    instead of this script's file and line. PySpark reads the conf once
    per process, at the first Column call under an active session, so
    this runs in a fresh interpreter."""
    script = tmp_path / "calls_probe.py"
    script.write_text(_CALLS_SCRIPT)
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, str(script), ROOT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["conf"] == "false"
    assert out["per_call"] <= 4, out["per_call"]
    assert out["condition"] == "CAST_INVALID_INPUT"
    assert str(script) not in out["message"], out["message"][:2000]


def test_driver_calls_counts_each_half_by_kind(tmp_path):
    """``scripts/driver_calls.py`` prints, per key, the gateway commands
    of its second run's build and execute halves, counted by Py4J
    command kind."""
    script = os.path.join(ROOT, "scripts", "driver_calls.py")
    data = os.path.join(ROOT, "perfbench", "data")
    proc = subprocess.run(
        [sys.executable, script, "--sf-dir", data, "agg_reduce_sum"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert list(out) == ["agg_reduce_sum"]
    halves = out["agg_reduce_sum"]
    assert list(halves) == ["build", "execute"]
    for counts in halves.values():
        assert counts["c"] > 0
        assert all(len(kind) == 1 and type(n) is int and n > 0 for kind, n in counts.items())
    assert halves["build"]["c"] > halves["execute"]["c"]
