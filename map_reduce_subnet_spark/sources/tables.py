"""Parquet table loaders for the fixture star schema.

Schemas are declared explicitly (FIXTURES.md) and asserted against the
Parquet footer at load time — schema-on-read with a declared contract,
mirroring the reference's fixed-declared wire schema
(reference template/protocol.py:53-57).

At 100 TB the same loaders apply: ``load_table`` takes any directory of
parquet (partitioned layouts included); filters and column pruning reach
the scan because callers express them on the returned DataFrame before
any action (Catalyst pushes them down — verified in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# table -> ordered column names (the declared contract; types come from
# the parquet footer, see FIXTURES.md for the authoritative mapping).
TABLES: dict[str, list[str]] = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ],
    "lineitem": [
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}

# Small dimension tables that should always be broadcast in joins.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})

# Event-time columns whose on-disk encoding has changed across fixture
# generations (timestamp[ns] through r3, timestamp[us] since r4 — see
# FIXTURES.md). The loader normalizes every encoding to TIMESTAMP
# (LTZ, UTC session) so downstream operators see ONE type contract:
#   - timestamp[ns]  -> read as epoch nanos (nanosAsLong), integer
#                       DIV 1000, timestamp_micros()
#   - timestamp[us] NTZ (Spark 4.x parquet NTZ inference) -> cast to
#     TIMESTAMP; value-preserving because the session TZ is pinned UTC
#   - timestamp[us, tz=UTC] -> already TIMESTAMP, passes through
EVENT_TIME_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, verifying the declared column contract."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    # Dynamic confs: must hold on ANY caller-provided session (the
    # driver builds its own), not just ones from session.get_spark.
    # UTC pins timestamp literal parsing / rendering to the oracle's
    # naive-as-UTC reading of the parquet timestamps; without it a
    # non-UTC driver session shifts midnight dates by a day.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name in EVENT_TIME_COLS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    missing = [c for c in TABLES[name] if c not in df.columns]
    if missing:
        raise ValueError(f"table {name!r} missing declared columns {missing}")
    for col in EVENT_TIME_COLS.get(name, ()):
        dt = dict(df.dtypes).get(col)
        if dt == "bigint":
            # nanos fixture: integer DIV keeps full precision (double
            # division would not, at 1.7e18 epoch-nanos magnitudes)
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} DIV 1000)"))
        elif dt == "timestamp_ntz":
            # us fixture under Spark 4.x NTZ inference: normalize to
            # TIMESTAMP so strict functions (unix_micros, tz arith)
            # accept it; UTC session makes the cast value-preserving
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df
