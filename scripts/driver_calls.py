#!/usr/bin/env python3
"""Count the Py4J gateway commands the driver's Python sends to the
JVM while a registered query is built and while it runs.

    python3 scripts/driver_calls.py [--sf-dir DIR] KEY...

Every call from PySpark into the JVM is one gateway command, a round
trip over the gateway socket (~0.3 ms on a 4-core VM), and a query's
build half (``QUERIES[key](spark, sf_dir)``, which plans the frame and,
for a streaming key, drains it) can send hundreds. The script starts a
``get_spark`` session (``local[4]``) in a subprocess and runs each key
twice, each run a build and an execute half, the execute half a write
into the no-op sink as ``bench.py::time_row`` does. The first run pays
the one-time class loading and fixture-artifact builds; only the second
run's commands are counted, by wrapping
``py4j.clientserver.ClientServerConnection.send_command``. A command is
counted under its Py4J kind, the first line of the command: ``c`` a
method call, ``r`` a reflection lookup (a JVM class or package name
resolved through ``spark._jvm``), ``m`` a memory command (the JVM
releasing an object Python dropped; Py4J's finalizer thread sends it
some time after the drop), ``i`` a constructor, ``f`` a
field read, and so on. Prints one JSON object, ``{key: {"build":
{kind: count}, "execute": {kind: count}}}``.

The fixture dir defaults to the sf0.01 tier next to the tests' fixture
dir (``tests/conftest.py::SF_DIR``).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import json, sys
from collections import Counter
sys.path.insert(0, sys.argv[1])
from py4j.clientserver import ClientServerConnection
from map_reduce_subnet_spark.operators import QUERIES
from map_reduce_subnet_spark.session import get_spark

sf_dir, keys = sys.argv[2], sys.argv[3:]
spark = get_spark(app_name="driver-calls", master="local[4]")
send = ClientServerConnection.send_command
# appended to from the finalizer thread too; list.append is atomic
kinds = []


def counted(self, command, *args, **kwargs):
    kinds.append(command.split("\\n", 1)[0])
    return send(self, command, *args, **kwargs)


def drain():
    taken = kinds[:]
    del kinds[:len(taken)]
    return dict(sorted(Counter(taken).items()))


def run(key):
    kinds.clear()
    ClientServerConnection.send_command = counted
    try:
        df = QUERIES[key](spark, sf_dir)
        build = drain()
        df.write.format("noop").mode("overwrite").save()
        return {"build": build, "execute": drain()}
    finally:
        ClientServerConnection.send_command = send


out = {}
for key in keys:
    run(key)
    out[key] = run(key)
spark.stop()
print(json.dumps(out))
"""


def count_calls(keys: list[str], sf_dir: str) -> dict[str, dict[str, dict[str, int]]]:
    """``{key: {"build": {kind: count}, "execute": {kind: count}}}`` for
    each key's second run."""
    env = {"SPARK_GRAFT_DRIVER_MEM": "2g", **os.environ}
    with tempfile.TemporaryDirectory(prefix="mrs_calls_") as tmp:
        proc = subprocess.run(
            [sys.executable, "-c", _CHILD, ROOT, sf_dir, *keys],
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
    args = ap.parse_args()
    print(json.dumps(count_calls(args.keys, args.sf_dir)))


if __name__ == "__main__":
    main()
