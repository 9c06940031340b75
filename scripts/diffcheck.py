"""Differential check: run named registered queries against their
DuckDB oracles.

Usage (from a NEUTRAL cwd, e.g. /tmp — driver parity):
    python <checkout>/scripts/diffcheck.py [sf_dir] name1 name2 ...

It checks the checkout it sits in: its own tree goes first on
sys.path, so the package, the oracles and the comparator all come from
that tree, whether it is the working copy, a second clone or a
``git archive`` export. The session is a plain ``local[8]`` one (none
of ``get_spark``'s confs). Defaults to sf0.01; pass an absolute sf_dir
as the first arg to override. Prints MATCH or MISMATCH (with the
comparator's diff) per query; exit code 1 if any mismatch.
"""
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

import bench  # noqa: E402
from perfbench.check import oracle_connection  # noqa: E402


def report(run, key: str) -> str | None:
    t0 = time.time()
    diff = run()
    print(f"{key}: {'MISMATCH' if diff else 'MATCH'} [{time.time() - t0:.2f}s]")
    if diff:
        print("  " + diff.replace("\n", "\n  "))
    return diff


sf_dir = "/root/testdata/sf0.01"
names = sys.argv[1:]
if names and names[0].startswith("/"):
    sf_dir, names = names[0], names[1:]
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8").getOrCreate())
with tempfile.TemporaryDirectory() as tmp:
    diffs = bench.run_keys(spark, sf_dir, names, report, con=oracle_connection(sf_dir, tmp))
sys.exit(1 if any(diffs.values()) else 0)
