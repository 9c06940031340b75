"""Scale rehearsal above sf0.1: build a 10x fixture
("sf1") by unioning ten id-shifted copies of the sf0.1 tables, run
the dedup family + ANN + PageRank + the flagship aggregate at BOTH
scales on the same local[32] session, and print the scaling table
that SCALE.md records.

The 10x corpus is duplicate-heavy BY CONSTRUCTION (each document/
vector appears in all ten copies with a shifted id) — exactly the
shape a dedup pipeline exists for, and the shape that makes
candidate-pair counts grow: each sf0.1 near-dup cluster of size c
becomes a 10c-clique, so pair outputs scale ~x45 per cluster while
the corpus scales x10. Linear-ish wall-clock at that output growth
is the pass bar for the bucketed (never all-pairs) architecture.

Each row is one run of ``bench.run_keys`` after bench.py's warm-up:
the query is built and executed into the no-op sink (all columns
materialized, nothing crosses to the driver). The keys run at sf0.1
first, then at 10x. The runner's watchdog cancels a row's job group
after --timeout seconds; the row records None instead of hanging the
rehearsal.

Usage:
    python scripts/scale_rehearsal.py [--rebuild] [--queries q1,q2]
        [--timeout 600]

Writes nothing in the repo; the scaled fixture lives in
/tmp/mrs_scale_sf1.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
from pathlib import Path

import duckdb

SRC = "/root/testdata/sf0.1"
DST = "/tmp/mrs_scale_sf1"
COPIES = 10
# each scaled table's id column and the shift between its copies
SHIFTED = {
    "documents": ("doc_id", 1_000_000),
    "embeddings": ("vec_id", 1_000_000),
    "orders": ("o_orderkey", 1_000_000_000),
    "lineitem": ("l_orderkey", 1_000_000_000),
    "events": ("event_id", 1_000_000_000),
}

QUERY_SET = [
    "agg_reduce_sum",
    "dedup_exact",
    "dedup_near_minhash",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_minhash_est",
    "dedup_cluster",
    "dedup_survivors",
    "sim_ann_lsh_topk",
    "sim_ann_multiprobe_topk",
    "sim_ann_ivf_kmeans",
    # The 10x corpus is the prefix-truncation dedup's stress
    # shape — every document reappears in all ten copies, so each
    # sf0.1 prefix-truncation chain of c docs becomes a 10c-clique
    # inside one prefix bucket (pair output ~x45 per chain while the
    # corpus is x10; the LSH_BUCKET_CAP bounds the worst bucket);
    # sim_ann_pq_adc must stay scan-dominated (train once, serve as
    # one zero-exchange pass).
    "dedup_prefix_truncation",
    "sim_ann_pq_adc",
    # CEP is sessionization-priced (one
    # user_id shuffle + one Window with bounded 2-row lookahead) —
    # the 10x question is only sort volume per user; dynamic
    # partition overwrite is write-dominated — the 10x question is
    # that the revision write stays per-task (no shuffle) and the
    # delete set stays pruned to the touched partitions.
    "events_cep_pattern",
    "sink_dynamic_partition_overwrite",
    # Blocked fuzzy dedup's 10x question is the pair
    # population on the duplicate-heavy corpus (each sf0.1 near-dup
    # chain becomes a 10c-clique inside one block — the
    # LSH_BUCKET_CAP bounds the worst block) with an O(len·budget)
    # levenshtein verify per pair; the live CEP twin's question is
    # state-store growth (O(1) per user) across batches at 10x rows.
    "dedup_fuzzy_blocked",
    "stream_cep_true",
    "graph_pagerank",
    "funnel_conversion",
    # The streaming + warehouse families — the 10x questions here are state-store growth (the stream-stream
    # join keeps BOTH sides' rows in state within the time bound;
    # the stateful EMA keeps one row per user) and the versioned
    # table's commit path (merge input stays one row per key per
    # side, snapshots are plain scans — commits should scale with
    # the REDUCED state, not the event count).
    "stream_tumbling_true",
    "stream_stream_join_true",
    "stream_stateful_ema_batches",
    "stream_upsert_foreachbatch",
    "table_timetravel",
    "table_changefeed",
    "merge_scd2_history",
    "merge_upsert",
    # The learned-artifact + composition family. 10x questions: BPE's per-round pair shuffle grows with the
    # DISTINCT-WORD vocab (sub-linear in corpus — the learner trick's
    # whole point); the curation funnel composes three gates and the
    # corpus-wide drop list (drop set grows ~x45 on the duplicate-
    # heavy fixture — does the broadcast anti-join hold?); triangle
    # counting's wedge cost is O(sum deg^2) with capped degrees on a
    # pair graph that grows ~x45; the bigram LM joins the corpus to
    # two count dictionaries whose hot keys multiply nothing.
    "text_bpe_merges",
    "pipeline_curation_e2e",
    "graph_triangle_count",
    "text_lm_bigram_score",
    # graph_kcore peels the pair graph whose edge count grows ~x45
    # on the duplicate-heavy fixture; per-round cost is O(edges).
    "graph_kcore",
    # 10x questions: the substring-span table is the biggest
    # intermediate in the repo — (doc_id,pos,h) rows grow x10 and the
    # duplicated-span population ~x45-ish on the id-shifted fixture
    # (every 10-token span of every doc now repeats in 10 copies), so
    # BOTH shuffles of the spans pipeline grow — the deliberate
    # non-broadcast equi-join back is what must hold; image aHash
    # decodes 10x payloads scan-locally and shuffles only 24-byte
    # fingerprints; the leakage-safe split joins a ~x10 cluster map
    # against a x10 corpus on doc_id; the streaming MV refresh's
    # change feeds stay one-row-per-user (scale-invariant user
    # population here) while the commits behind them process x10
    # events; classifier inference is map-only and must scale flat
    # per-row.
    "dedup_substring_spans",
    "multimodal_image_ahash",
    "split_leakage_safe",
    "stream_mv_refresh_true",
    "text_quality_classifier",
    # 10x questions: sequence packing's two-phase
    # prefix sum must keep the driver sync at its fixed bucket count
    # while the token stream grows x10; contrastive mining's cluster
    # positives ride the ~x45 pair growth and the hash-rank negative
    # join must stay one bucketed shuffle; the JSD drift score's
    # (word x source) aggregate is distinct-vocab-bound
    # (scale-invariant here) with a x10 count pass in front;
    # scene-cut decodes x10 binary frame payloads scan-locally;
    # the skew report's count-of-counts histogram collapses x10 keys
    # into the same tiny histogram; the constraint audit's two FK
    # anti-joins re-scan x10 fact rows against dim-sized key sides;
    # OLS trend and the DP counts are single partial+final
    # aggregates that must price like a COUNT.
    "pipeline_sequence_pack",
    "sample_contrastive_pairs",
    "text_source_drift_jsd",
    "multimodal_scene_cut",
    "diag_skew_report",
    "table_constraint_audit",
    "agg_trend_ols",
    "privacy_dp_count_laplace",
    # OOO CEP's 10x question is the REORDER-BUFFER population (event rate
    # x the 1 h reorder window per user) on top of the gapped state,
    # across the same 4-file replay; MJPEG's is x10 demux+decode
    # payloads scan-locally (frames never cross a shuffle);
    # sim_ann_ivfpq at nprobe=2 must still serve via static partition
    # prune — two inverted-list directories instead of one, cold
    # build unchanged and fixture-cached.
    "stream_cep_gapped_ooo",
    "multimodal_decode_mjpeg",
    "sim_ann_ivfpq",
    # The contiguous OOO twin — same replay and flush
    # machinery as the gapped one with O(1) machine state; the 10x
    # question is only the reorder-buffer population.
    "stream_cep_ooo",
]

COPY_TABLES = [
    "region", "nation", "customer", "supplier", "part",
]


# A single output file per table would under-parallelize the whole
# rehearsal: Spark plans scan tasks by BYTE ranges (one row group
# never splits), so a 0.9 MB single-file documents table carries the
# entire 50k-doc shingle pipeline on ONE task no matter how many
# cores exist — the first rehearsal measured 290-520 s for
# dedup_near_minhash@sf1 purely because of that layout. Real 100 TB
# tables arrive as thousands of files; emulate that with a
# directory of N_FILES hash-bucketed parquet files per scaled table.
N_FILES = 32


def build_fixture() -> None:
    dst = Path(DST)
    if dst.exists():
        shutil.rmtree(dst)
    dst.mkdir(parents=True)
    con = duckdb.connect()
    for table, (col, shift) in SHIFTED.items():
        unions = " UNION ALL ".join(
            f"SELECT * REPLACE ({col} + {k * shift} AS {col})"
            f" FROM '{SRC}/{table}.parquet'"
            for k in range(COPIES)
        )
        Path(f"{DST}/{table}.parquet").mkdir()
        for n in range(N_FILES):
            con.sql(
                f"COPY (SELECT * FROM ({unions}) WHERE {col} % {N_FILES} = {n})"
                f" TO '{DST}/{table}.parquet/part-{n:05d}.parquet' (FORMAT PARQUET)"
            )
    for t in COPY_TABLES:
        shutil.copy(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
    print(f"built {DST} ({'/'.join(SHIFTED)} x{COPIES})", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--queries", default=",".join(QUERY_SET))
    ap.add_argument("--timeout", type=float, default=600.0)
    args = ap.parse_args()
    if args.rebuild or not Path(DST).exists():
        build_fixture()

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    # The 10x fixture needs a bigger driver heap than pyspark's 1g
    # local default: dedup_ngram_jaccard@sf1's shingle window dies in
    # GCLocker allocation failures at 1g (the local-mode analog of
    # executor memory sizing on a real cluster). Must be set before
    # the JVM launches.
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS", "--driver-memory 48g pyspark-shell"
    )
    import bench
    from map_reduce_subnet_spark.session import get_spark

    # bench.py's session, so absolute numbers are comparable to
    # BASELINE.md rows (an ad-hoc builder session measured the same
    # sf0.1 queries 4-6x slower); the 10x fixture's warm-up only
    # reads its parquet footers.
    spark = get_spark(app_name="mrs-scale-rehearsal")
    bench.warm_up(spark, SRC)
    bench.warm_up(spark, DST, ("agg_reduce_sum",))

    def row(run, group: str) -> float | None:
        sample = bench.once_or_none(run, group)
        s = None if sample is None else round(sum(sample), 2)
        print(f"{group}: {s}s", flush=True)
        return s

    names = [q for q in args.queries.split(",") if q]
    a, b = (
        bench.run_keys(spark, sf_dir, names, row, group="{key}@" + label, timeout=args.timeout)
        for label, sf_dir in (("sf0.1", SRC), ("sf1", DST))
    )
    print("\n| query | sf0.1 s | sf1 s | ratio |", flush=True)
    print("|---|---|---|---|", flush=True)
    for name in names:
        ratio = f"{b[name] / a[name]:.1f}x" if a[name] and b[name] else "n/a"
        print(f"| {name} | {a[name]} | {b[name]} | {ratio} |", flush=True)


if __name__ == "__main__":
    main()
