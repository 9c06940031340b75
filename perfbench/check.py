"""Correctness gate: every operation against an independent reference.

Query keys are compared with their DuckDB oracle (``ORACLES``) on the
same fixture, in the canonical form of ``tests/conftest.py``. The
validator round is compared with a NumPy recomputation of the
reference's EMA fold and L1 weight sink.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pandas as pd

from map_reduce_subnet_spark.operators import ORACLES, QUERIES
from map_reduce_subnet_spark.pipeline import ALPHA, SINK_PERIOD
from map_reduce_subnet_spark.sources.tables import TABLES
from tests.conftest import assert_frames_match


def oracle_connection(sf_dir: str, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"temp_directory": temp_dir})
    for name in TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    return con


def query_mismatch(spark, con, sf_dir: str, key: str) -> str | None:
    """None when the key's result equals its oracle's, else the diff."""
    try:
        assert_frames_match(
            QUERIES[key](spark, sf_dir).toPandas(), con.sql(ORACLES[key]).df(), key
        )
    except AssertionError as ex:
        return str(ex)
    return None


def expected_rounds(metagraph: pd.DataFrame, periods: int):
    """Per sink period: (ema by uid, L1 weights by uid).

    Registered peers answer ``step * 2`` and score 1, the rest score 0.
    The sink total sums the EMA as decimal(27,6), as the engine does.
    """
    uids = metagraph["uid"].tolist()
    score = metagraph["registered"].to_numpy().astype(np.float64)
    ema = np.ones(len(uids))
    out = []
    for _ in range(periods):
        for _ in range(SINK_PERIOD):
            ema = ALPHA * ema + (1 - ALPHA) * score
        total = float(
            sum(Decimal(repr(float(e))).quantize(Decimal("1e-6"), ROUND_HALF_UP) for e in ema)
        )
        out.append((dict(zip(uids, ema.tolist())), dict(zip(uids, (ema / total).tolist()))))
    return out


def round_mismatch(got_ema: pd.DataFrame, got_weights, want) -> str | None:
    """Compare one engine sink period with one ``expected_rounds`` entry."""
    if got_weights is None:
        return "validator_round: no weights sunk at the end of the period"
    for name, got, col, expect in (
        ("ema", got_ema, "ema", want[0]),
        ("weights", got_weights, "weight", want[1]),
    ):
        values = dict(zip(got["uid"].tolist(), got[col].tolist()))
        if values != expect:
            bad = [u for u in expect if values.get(u) != expect[u]][:3]
            return f"validator_round: {name} differ at uids {bad}"
    return None
