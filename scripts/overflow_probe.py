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

from map_reduce_subnet_spark.operators import ORACLES, QUERIES  # noqa: E402
from perfbench.check import oracle_connection  # noqa: E402
from tests.conftest import assert_frames_match  # noqa: E402
from tests.test_differential import KEYS, write_corpus  # noqa: E402


def attempt(run, limit):
    """(result, None), or (None, the error's type and first ``limit`` chars)."""
    try:
        return run(), None
    except Exception as e:
        return None, f"{type(e).__name__}: {str(e)[:limit]}"


dst = write_corpus("extreme", tempfile.mkdtemp(prefix="ovf_"))
con = oracle_connection(dst, tempfile.mkdtemp(prefix="ovf_duckdb_"))
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

res = {"match": [], "mismatch": [], "spark_err": [], "duck_err": [], "both_err": []}
for key in KEYS:
    got, serr = attempt(lambda: QUERIES[key](spark, dst).toPandas(), 120)
    want, derr = attempt(lambda: con.sql(ORACLES[key]).df(), 160)
    if serr and derr:
        res["both_err"].append((key, serr[:60], derr[:60]))
    elif serr:
        res["spark_err"].append((key, serr))
    elif derr:
        res["duck_err"].append((key, derr))
    else:
        try:
            assert_frames_match(got, want, key)
            res["match"].append(key)
        except Exception as e:
            res["mismatch"].append((key, str(e)[:200]))

print("=== OVERFLOW PROBE RESULTS ===")
print("match:", len(res["match"]))
for cat in ("mismatch", "spark_err", "duck_err", "both_err"):
    print(f"{cat}: {len(res[cat])}")
    for row in res[cat]:
        print("   ", row)
