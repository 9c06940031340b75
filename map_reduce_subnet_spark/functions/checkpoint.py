"""Lineage truncation for iterative / stateful plans.

Iterative algorithms (connected-components label propagation, the
validator EMA fold — reference neurons/validator.py:146) grow their
plan by one join per round; without truncation every action at round N
re-executes all N rounds (O(rounds²)). Label propagation truncates
every round; the validator truncates once per sink period, at the
round that sinks weights. Spark offers two truncation
modes with different durability:

- ``df.checkpoint()`` — RELIABLE: blocks are written to the
  ``sparkContext.setCheckpointDir`` filesystem (HDFS/S3 on a real
  cluster). A lost executor re-reads from storage; the 100 TB mode.
- ``df.localCheckpoint()`` — blocks live in executor block-manager
  memory/disk with NO fault tolerance: on a 1000-executor run a single
  lost executor kills the job. Fine on local[*] where "executor loss"
  means the whole JVM died anyway.

``stable_checkpoint`` picks reliable when a checkpoint dir is
configured and falls back to local otherwise, so the same operator
code runs correct-and-fast locally and durable on a cluster — callers
opt in to durability purely through session state
(``spark.sparkContext.setCheckpointDir(path)``), no API change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stable_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and truncate its lineage: reliable
    ``checkpoint`` when the session has a checkpoint dir, else
    ``localCheckpoint``. Eager either way — iterative callers need the
    materialization to happen inside their round, not lazily at the
    next action."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
