"""Extreme-magnitude probe: every swept key on the ``extreme`` corpus
of tests/test_differential.py (events.value at ±1e18/±1e20/1e22/1e300,
lineitem price 1e20 and quantity 1e19), Spark against DuckDB, each
outcome classified as match / mismatch / spark_err / duck_err /
both_err. Read-only: it changes no oracle or engine code.

The suite pins the same classification per key: the
``EXTREME_ABORT_KEYS`` must abort on both engines, every other key
must match. This script prints the whole table in one run; it is the
source to re-sync that set from. The decided posture is a symmetric
refusal at the DECIMAL(27,6) band edge (both_err) and no mismatch,
spark_err or duck_err anywhere.

Usage:  cd /tmp && python <checkout>/scripts/overflow_probe.py
"""
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

import bench  # noqa: E402
from map_reduce_subnet_spark.operators import ORACLES  # noqa: E402
from perfbench.check import oracle_connection  # noqa: E402
from tests.test_differential import KEYS, write_corpus  # noqa: E402


def error(ex: Exception, limit: int) -> str:
    return f"{type(ex).__name__}: {str(ex)[:limit]}"


def classify(run, key: str) -> tuple[str, tuple | str]:
    """(outcome, the key's row in the table). The oracle runs alone
    first: the answer check runs it after the query, so an error it
    raises is the oracle's when the oracle alone raises the same."""
    try:
        con.sql(ORACLES[key]).df()
        duck = None
    except Exception as ex:
        duck = ex
    try:
        diff = run()
    except Exception as ex:
        if duck is None:
            return "spark_err", (key, error(ex, 120))
        if (type(ex), str(ex)) == (type(duck), str(duck)):
            return "duck_err", (key, error(duck, 160))
        return "both_err", (key, error(ex, 120)[:60], error(duck, 160)[:60])
    return ("mismatch", (key, diff[:200])) if diff else ("match", key)


dst = write_corpus("extreme", tempfile.mkdtemp(prefix="ovf_"))
con = oracle_connection(dst, tempfile.mkdtemp(prefix="ovf_duckdb_"))
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

res = {"match": [], "mismatch": [], "spark_err": [], "duck_err": [], "both_err": []}
for outcome, row in bench.run_keys(spark, dst, KEYS, classify, con=con).values():
    res[outcome].append(row)

print("=== OVERFLOW PROBE RESULTS ===")
print("match:", len(res["match"]))
for cat in ("mismatch", "spark_err", "duck_err", "both_err"):
    print(f"{cat}: {len(res[cat])}")
    for row in res[cat]:
        print("   ", row)
