"""Workload definitions and the seeded inputs the engine receives.

A workload is a fixed list of operations. Every name but ``ROUND`` is
a registered query key (``operators.QUERIES``), executed as
``QUERIES[key](spark, sf_dir)`` into the noop sink. ``ROUND`` is one
sink period of the paper's validator loop on the seeded metagraph:
``SINK_PERIOD`` calls of ``SubnetPipeline.validator_round``, the last
of which sinks L1 weights (written to the noop sink). A pass runs
``ROUNDS_PER_PASS`` of them on one pipeline.

The seed sets the operation order of each pass and the metagraph
(uids, stake, registered). The fixture tables in ``data/`` are fixed:
every operation listed here matches its DuckDB oracle on them.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

ROUND = "validator_round"
ROUNDS_PER_PASS = 1
METAGRAPH_UIDS = 256

WORKLOADS: dict[str, list[str]] = {
    # JVM-side work with no Python: the flagship keyed sum, an
    # unpartitioned window (all rows through one task), and a
    # watermarked streaming dedup whose state store commits on every
    # partition of its one trigger.
    "etl_stream": [
        "agg_reduce_sum",
        "window_rank_stake",
        "stream_dedup_true",
    ],
    # The Python/Arrow boundary and the fixture-artifact cache: scalar
    # and grouped pandas UDFs, and a JPEG decode whose encoded media
    # table is built on the first run and served from disk after.
    "llm_python": [
        "udf_scalar",
        "udtf_grouped_map",
        "multimodal_decode_jpeg",
    ],
}


def pass_ops(workload: str) -> list[str]:
    """The operations of one pass, in their listed order."""
    return list(WORKLOADS[workload]) + [ROUND] * ROUNDS_PER_PASS


def pass_order(workload: str, seed: int, pass_id: str) -> list[str]:
    """The operations of one pass, shuffled by (seed, pass id)."""
    ops = pass_ops(workload)
    random.Random(f"{seed}:{pass_id}").shuffle(ops)
    return ops


def metagraph(seed: int) -> pd.DataFrame:
    """A seeded subnet metagraph: shuffled uids, log-normal stake and
    about 15% deregistered peers (which the blacklist drops)."""
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "uid": rng.permutation(METAGRAPH_UIDS).astype(np.int64),
            "stake": np.round(rng.lognormal(3.0, 1.5, METAGRAPH_UIDS), 4),
            "registered": rng.random(METAGRAPH_UIDS) < 0.85,
        }
    )
