"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in :mod:`map_reduce_subnet_spark`; this module is
a thin adapter over its query registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from map_reduce_subnet_spark.operators import ORACLES, QUERIES  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# The driver's sweep checks only the FIRST `SWEEP_CAP` entries of
# queries() per round. Rotation policy (and the reason the list is
# explicit): (1) keys that have NEVER received a driver CORRECTNESS
# row in any round, (2) keys whose implementation changed this round —
# both MUST sit inside the cap; then (3) backfill with the oldest
# HASH-green rows (r1's) so oracle coverage keeps refreshing. Keys
# beyond the cap either hash-matched in CORRECTNESS_r01∪r02 or are
# rows-only keys that ran green there (rows-only refreshes carry the
# least signal, so they rotate out first) — all unchanged since.
# tests/test_correctness.py pins len(_SWEEP_PRIORITY) <= SWEEP_CAP and
# that queries() actually leads with this list.
SWEEP_CAP = 50

_SWEEP_PRIORITY = [
    # --- FRESHNESS SCHEDULE ---
    # Composition, auditable sum: 0 new + 49 changed (20 streaming +
    # 27 carried + 2 WAV keys) + 1 backfill = 50 = SWEEP_CAP. The
    # streaming and carried keys changed in an earlier rotation and
    # have no CORRECTNESS row for their current program yet, so they
    # stay; eight of the carried media keys changed again this
    # rotation. Backfill cohorts are COMPUTED from the
    # CORRECTNESS_r01..r16 union (latest green row per key), not
    # hand-copied: the keys that did not fit last time lead, then the
    # r11-vintage cohort in sorted order. The changed-key rule
    # is mechanized: scripts/fingerprints.py records key -> md5(oracle +
    # engine source) per rotation, and tests/test_correctness.py fails
    # if any fingerprint changed without the key appearing here.
    #
    # (1a) changed in the previous rotation: all 20 streaming keys
    # (every stream now starts through streaming/jobs.py::_start, which
    # caps the state-partition count at the session's task slots):
    "stream_cep_gapped_ooo",
    "stream_cep_gapped_true",
    "stream_cep_ooo",
    "stream_cep_true",
    "stream_dedup_true",
    "stream_dedup_within_watermark_true",
    "stream_mv_refresh_true",
    "stream_pit_join_true",
    "stream_python_sink_true",
    "stream_python_source_true",
    "stream_session_true",
    "stream_sliding_true",
    "stream_state_inspect",
    "stream_stateful_ema",
    "stream_stateful_ema_batches",
    "stream_static_join_true",
    "stream_stream_join_true",
    "stream_tumbling_distinct_true",
    "stream_tumbling_true",
    "stream_upsert_foreachbatch",
    # (1b) changed in an earlier rotation, not yet re-verified:
    # every fixture-artifact consumer (the one artifact helper in
    # functions/cache.py replaced the hand-rolled caches) — the MinHash
    # dedup family and the graph, sampling, split and curation keys
    # built on its pair table, the media decodes plus resize/ahash, the
    # ANN/PQ family, BPE, the two month-partitioned pruning keys and
    # join_bucketed — plus the two other media keys that share the
    # by-value multimodal shipping helper (multimodal_probe_mp4,
    # scan_binaryfile_media). The eight media keys changed again this
    # rotation: every codec stage now runs through
    # operators/llm.py::_per_blob.
    "dedup_cluster",
    "dedup_containment",
    "dedup_minhash_est",
    "dedup_ngram_jaccard",
    "dedup_survivors",
    "graph_kcore",
    "graph_triangle_count",
    "join_bucketed",
    "join_partition_prune_dynamic",
    "multimodal_decode_gif",
    "multimodal_decode_jpeg",
    "multimodal_decode_mjpeg",
    "multimodal_decode_png",
    "multimodal_image_ahash",
    "multimodal_image_resize",
    "multimodal_probe_mp4",
    "pipeline_curation_e2e",
    "sample_contrastive_pairs",
    "scan_binaryfile_media",
    "scan_partition_prune",
    "sim_ann_ivf_kmeans",
    "sim_ann_ivfpq",
    "sim_ann_pq_adc",
    "sim_ann_recall",
    "split_leakage_safe",
    "text_bpe_encode",
    "text_bpe_merges",
    # (1c) changed this rotation: the two WAV keys, which now decode
    # through functions/multimodal.py::decode_wav_pcm via _per_blob:
    "multimodal_audio_stats",
    "multimodal_decode_wav",
    # (2) backfill: the one key left over from an earlier backfill.
    # The two WAV keys displaced udtf_grouped_map and window_row_number,
    # which lead the next backfill, then the r11-vintage cohort
    # (limit_topk, quality_dedup_rates, sample_stratified_rebalance):
    "timeseries_gapfill",
]


def _ordered(mapping: dict) -> dict:
    out = {k: mapping[k] for k in _SWEEP_PRIORITY if k in mapping}
    out.update((k, v) for k, v in mapping.items() if k not in out)
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (agg_reduce_sum, TPC-H Q1 shape) on sf0.001."""
    return QUERIES["agg_reduce_sum"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.2."""
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every SQL-expressible query."""
    return _ordered(ORACLES)
