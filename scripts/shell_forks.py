#!/usr/bin/env python3
"""Count the shell commands and Python interpreters a registered query
starts while it runs.

    python3 scripts/shell_forks.py [--sf-dir DIR] [--master local[4]] KEY...

Without the native Hadoop library, Hadoop's local filesystem runs a
shell command for some file operations: ``chmod`` for every file it
creates and directory it makes, ``readlink`` for every link-status
lookup (Spark's default checkpoint manager does one per overwrite-
rename), ``ls``/``stat`` for some permission reads. Each is a process
fork on the calling task's thread. Spark also starts a Python
interpreter for its worker daemon, once per session, and for the
source or sink runner of each Python streaming query, once per drain;
every other Python worker is a fork of the daemon. Every interpreter
start pays Python's and PySpark's imports.

The script writes a logging wrapper for each command in
:data:`COMMANDS` into a temp dir, and one named ``python`` for the
worker interpreter (``PYSPARK_PYTHON``, else ``python3``), then starts
a ``get_spark`` session in a subprocess whose ``PATH`` leads with that
dir and whose ``PYSPARK_PYTHON`` is the interpreter's wrapper, so the
JVM and every process it starts run the wrappers. Each key runs twice
(the result is collected); the first run pays the one-time class
loading, fixture-artifact builds and the daemon's start, and only the
second run's commands are counted. Prints one JSON object, ``{key:
{command: count}}``; a key that starts nothing maps to ``{}``.

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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the commands Hadoop's Shell and Stat run on a local filesystem
COMMANDS = ("chmod", "chown", "readlink", "ls", "stat", "ln", "df", "du")

_CHILD = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from map_reduce_subnet_spark.operators import QUERIES
from map_reduce_subnet_spark.session import get_spark

log, sf_dir, master, keys = sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5:]
spark = get_spark(app_name="shell-forks", master=master)


def logged():
    with open(log) as f:
        return f.read().split()


out = {}
for key in keys:
    QUERIES[key](spark, sf_dir).collect()
    start = len(logged())
    QUERIES[key](spark, sf_dir).collect()
    counts = {}
    for cmd in logged()[start:]:
        counts[cmd] = counts.get(cmd, 0) + 1
    out[key] = dict(sorted(counts.items()))
spark.stop()
print(json.dumps(out))
"""


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


def count_forks(
    keys: list[str], sf_dir: str, master: str
) -> dict[str, dict[str, int]]:
    """``{key: {command: count}}`` for each key's second run."""
    with tempfile.TemporaryDirectory(prefix="mrs_forks_") as tmp:
        bin_dir = os.path.join(tmp, "bin")
        os.mkdir(bin_dir)
        log = os.path.join(tmp, "commands.log")
        open(log, "w").close()
        write_wrappers(bin_dir, log)
        worker = shutil.which(os.environ.get("PYSPARK_PYTHON", "python3"))
        env = {**os.environ, "PATH": bin_dir + os.pathsep + os.environ["PATH"],
               "PYSPARK_PYTHON": write_wrapper(bin_dir, "python", worker, log)}
        env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
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
    print(json.dumps(count_forks(args.keys, args.sf_dir, args.master)))


if __name__ == "__main__":
    main()
