"""Differential check: run named queries of ``__spark_entry__``
against their DuckDB oracles.

Usage (from a NEUTRAL cwd, e.g. /tmp — driver parity):
    python <checkout>/scripts/diffcheck.py [sf_dir] name1 name2 ...

It checks the checkout it sits in: the entry beside this script puts
its own tree first on sys.path, so the package, the oracles and the
comparator all come from that tree, whether it is the working copy,
a second clone or a ``git archive`` export. The session is a plain
``local[8]`` one (none of ``get_spark``'s confs). Defaults to sf0.01;
pass an absolute sf_dir as the first arg to override. Prints MATCH /
MISMATCH (with the comparator's diff) / ROWS-ONLY per query; exit
code 1 if any mismatch.
"""
import importlib.util
import os
import sys
import tempfile
import time

sf_dir = "/root/testdata/sf0.01"
names = sys.argv[1:]
if names and names[0].startswith("/"):
    sf_dir, names = names[0], names[1:]

root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location("__spark_entry__", f"{root}/__spark_entry__.py")
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)

from pyspark.sql import SparkSession  # noqa: E402

from perfbench.check import oracle_connection, query_mismatch  # noqa: E402

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8").getOrCreate())
qs, osql = m.queries(), m.oracle_sql()
fails = 0
with tempfile.TemporaryDirectory() as tmp:
    con = oracle_connection(sf_dir, tmp)
    for name in names:
        t0 = time.time()
        if name not in osql:
            n = len(qs[name](spark, sf_dir).toPandas())
            print(f"{name}: ROWS-ONLY ran, {n} rows  [{time.time() - t0:.2f}s]")
            continue
        diff = query_mismatch(spark, con, sf_dir, name)
        print(f"{name}: {'MISMATCH' if diff else 'MATCH'} [{time.time() - t0:.2f}s]")
        if diff:
            fails += 1
            print("  " + diff.replace("\n", "\n  "))
sys.exit(1 if fails else 0)
