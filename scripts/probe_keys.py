#!/usr/bin/env python3
"""Count, per registered query, the Py4J gateway commands the driver's
Python sends to the JVM and the shell commands and Python interpreters
Spark starts, over each half of the query's second run.

    python3 scripts/probe_keys.py [--sf-dir DIR] [--master local[4]] KEY...

Every call from PySpark into the JVM is one gateway command, a round
trip over the gateway socket (~0.3 ms on a 4-core VM), and a query's
build half (``QUERIES[key](spark, sf_dir)``, which plans the frame and,
for a streaming key, drains it) can send hundreds. A command is counted
under its Py4J kind, the first line of the command: ``c`` a method
call, ``r`` a reflection lookup (a JVM class or package name resolved
through ``spark._jvm``), ``m`` a memory command (the JVM releasing an
object Python dropped; Py4J's finalizer thread sends it some time after
the drop), ``i`` a constructor, ``f`` a field read, and so on.

Without the native Hadoop library, Hadoop's local filesystem runs a
shell command for some file operations: ``chmod`` for every file it
creates and directory it makes, ``readlink`` for every link-status
lookup (Spark's default checkpoint manager does one per overwrite-
rename), ``ls``/``stat`` for some permission reads. Each is a process
fork on the calling task's thread. Spark also starts a Python
interpreter for its worker daemon, once per session, and for the
source or sink runner of each Python streaming query, once per drain;
every other Python worker is a fork of the daemon, and is not counted.

The script writes a logging wrapper for each command in
:data:`COMMANDS` into a temp dir, and one named ``python`` for the
worker interpreter (``PYSPARK_PYTHON``, else ``python3``), then starts
a ``get_spark`` session in a subprocess whose ``PATH`` leads with that
dir and whose ``PYSPARK_PYTHON`` is the interpreter's wrapper, so the
JVM and every process it starts run the wrappers. There each key runs
twice through ``bench.run_keys``, each run a build and an execute half
(a write into the no-op sink). The first run pays the one-time class
loading, fixture-artifact builds and the daemon's start; only the
second run is counted. Prints one JSON object, ``{key: {"calls":
{half: {kind: count}}, "forks": {half: {command: count}}}}`` with the
halves ``build`` and ``execute``; a half that starts nothing maps to
``{}``.

The fixture dir defaults to the sf0.01 tier next to the tests' fixture
dir (``tests/conftest.py::SF_DIR``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from collections import Counter
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the commands Hadoop's Shell and Stat run on a local filesystem
COMMANDS = ("chmod", "chown", "readlink", "ls", "stat", "ln", "df", "du")
# the subprocess: ROOT, then child()'s arguments
_CHILD = (
    "import sys; sys.path.insert(0, sys.argv[1]); "
    "from scripts.probe_keys import child; child(*sys.argv[2:])"
)


def gateway_commands(counts: dict):
    """A probe: sets ``counts[half]`` to ``{kind: count}`` of the gateway
    commands sent while the half runs."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command

    @contextmanager
    def probe(half: str):
        kinds = []  # appended to from the finalizer thread too; list.append is atomic

        def counted(self, command, *args, **kwargs):
            kinds.append(command.split("\n", 1)[0])
            return send(self, command, *args, **kwargs)

        ClientServerConnection.send_command = counted
        try:
            yield
        finally:
            ClientServerConnection.send_command = send
            counts[half] = dict(sorted(Counter(kinds).items()))

    return probe


def forked_commands(log: str, counts: dict):
    """A probe: sets ``counts[half]`` to ``{command: count}`` of the
    wrapped commands ``log`` gained while the half ran."""

    def logged() -> list[str]:
        with open(log) as f:
            return f.read().split()

    @contextmanager
    def probe(half: str):
        start = len(logged())
        try:
            yield
        finally:
            counts[half] = dict(sorted(Counter(logged()[start:]).items()))

    return probe


def child(log: str, sf_dir: str, master: str, *keys: str) -> None:
    """Run in the subprocess: print each key's second-run readings."""
    import bench
    from map_reduce_subnet_spark.session import get_spark

    spark = get_spark(app_name="probe-keys", master=master)
    calls, forks = {}, {}

    def second(run, group):
        run()
        run()
        return {"calls": dict(calls), "forks": dict(forks)}

    probes = (gateway_commands(calls), forked_commands(log, forks))
    out = bench.run_keys(spark, sf_dir, keys, second, probes)
    spark.stop()
    print(json.dumps(out))


def write_wrapper(bin_dir: str, name: str, real: str, log: str) -> str:
    """A ``sh`` wrapper ``bin_dir/name`` that appends ``name`` to ``log``,
    then execs ``real``; its path."""
    path = os.path.join(bin_dir, name)
    with open(path, "w") as f:
        f.write(f'#!/bin/sh\necho {name} >> "{log}"\nexec "{real}" "$@"\n')
    os.chmod(path, 0o755)
    return path


def write_wrappers(bin_dir: str, log: str) -> None:
    """A wrapper per command in ``bin_dir`` for the real binary found on
    ``PATH`` now."""
    for cmd in COMMANDS:
        real = shutil.which(cmd)
        if real is not None:
            write_wrapper(bin_dir, cmd, real, log)


def probe_keys(keys: list[str], sf_dir: str, master: str) -> dict:
    """The readings of each key's second run (see the module doc)."""
    with tempfile.TemporaryDirectory(prefix="mrs_probe_") as tmp:
        bin_dir = os.path.join(tmp, "bin")
        os.mkdir(bin_dir)
        log = os.path.join(tmp, "commands.log")
        open(log, "w").close()
        write_wrappers(bin_dir, log)
        worker = shutil.which(os.environ.get("PYSPARK_PYTHON", "python3"))
        env = {"SPARK_GRAFT_DRIVER_MEM": "2g", **os.environ,
               "PATH": bin_dir + os.pathsep + os.environ["PATH"],
               "PYSPARK_PYTHON": write_wrapper(bin_dir, "python", worker, log)}
        proc = subprocess.run(
            [sys.executable, "-c", _CHILD, ROOT, log, sf_dir, master, *keys],
            cwd=tmp, env=env, capture_output=True, text=True,
        )
    if proc.returncode != 0:
        sys.exit(proc.stderr[-3000:])
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    sys.path.insert(0, ROOT)
    from tests.conftest import SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("keys", nargs="+", metavar="KEY")
    ap.add_argument(
        "--sf-dir", default=os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    )
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args()
    print(json.dumps(probe_keys(args.keys, args.sf_dir, args.master)))


if __name__ == "__main__":
    main()
