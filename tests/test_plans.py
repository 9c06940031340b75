"""Physical-plan assertions — the 100 TB posture, checked mechanically.

The correctness harness proves the values; these tests prove the plans
are the ones that survive scale: filters reach the parquet scan, scans
prune columns, dim joins broadcast, candidate generation never degrades
to a cartesian product, and hot paths stay JVM-side.
"""

from __future__ import annotations

import pytest

from map_reduce_subnet_spark.operators import QUERIES
from map_reduce_subnet_spark.plans import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    has_cartesian,
    has_partial_aggregation,
    pushed_filters,
    read_schema_columns,
)
from tests.conftest import SF_DIR


def q(spark, name):
    return QUERIES[name](spark, SF_DIR)


def test_filter_pushdown_reaches_scan(spark):
    filters = pushed_filters(q(spark, "scan_filter_pushdown"))
    assert any("l_shipdate" in f for f in filters)


def test_column_pruning_reaches_scan(spark):
    schemas = read_schema_columns(q(spark, "scan_prune_columns"))
    assert schemas and set(schemas[0]) == {"l_orderkey", "l_quantity"}


def test_dim_joins_are_broadcast(spark):
    df = q(spark, "join_broadcast")
    assert has_broadcast_join(df)
    # broadcast joins only — the fact side must not shuffle for the
    # join; the single exchange is the final aggregation's
    assert count_exchanges(df) <= 1


def test_star_join_broadcasts_dims(spark):
    assert has_broadcast_join(q(spark, "join_multiway_star"))


def test_flagship_has_partial_aggregation(spark):
    df = q(spark, "agg_reduce_sum")
    # partial + final HashAggregate = map-side combine (the factor-K
    # win); decimal casts must not have broken it
    assert has_partial_aggregation(df)
    assert count_exchanges(df) == 1


def test_no_cartesian_in_candidate_generation(spark):
    for name in ("dedup_near_minhash", "dedup_ngram_jaccard"):
        assert not has_cartesian(q(spark, name)), (
            f"{name} degraded to cartesian"
        )


def test_topk_uses_take_ordered(spark):
    assert "TakeOrderedAndProject" in formatted_plan(q(spark, "limit_topk"))


def test_sample_is_scan_stage_only(spark):
    """The systematic sample must evaluate during the scan: no
    exchange, no extra pass."""
    assert count_exchanges(q(spark, "sample_systematic")) == 0


def test_tfidf_plan_shape(spark):
    """TF-IDF: partial aggregation for the counts, broadcast for the
    vocabulary join, per-doc top-k limited BEFORE the window sort
    (WindowGroupLimit), and no cartesian blowup (the 1-row doc-count
    broadcast is the only nested-loop join)."""
    df = q(spark, "text_tfidf_topk")
    plan = formatted_plan(df)
    assert has_partial_aggregation(df)
    assert has_broadcast_join(df)
    assert "WindowGroupLimit" in plan
    assert not has_cartesian(df)


@pytest.mark.parametrize(
    "name", ["project_arith", "filter_compound", "agg_reduce_sum", "text_quality"]
)
def test_hot_paths_have_no_python(spark, name):
    """Hot-path queries must stay JVM-side: no row-at-a-time Python
    eval, no Arrow eval — only built-in expressions (codegen-able)."""
    plan = formatted_plan(q(spark, name))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_udf_paths_are_arrow_not_row(spark):
    """Where Python IS used (family J), it must be Arrow-vectorized."""
    plan = formatted_plan(q(spark, "udf_scalar"))
    assert "ArrowEvalPython" in plan or "BatchEvalPython" not in plan


def test_pmi_plan_shape(spark):
    """PMI collocations: both count stages partial-aggregate before
    their shuffle; the unigram-dictionary joins and the two scalar
    totals broadcast; top-100 rides TakeOrdered (no full sort
    materialization); no Python anywhere."""
    df = q(spark, "text_collocations_pmi")
    plan = formatted_plan(df)
    assert has_partial_aggregation(df)
    assert has_broadcast_join(df)
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_c4_plan_shape(spark):
    """C4 composite filter: the repetition rule's two aggregations
    partial-aggregate; the signal arithmetic is JVM-side."""
    df = q(spark, "text_quality_c4")
    plan = formatted_plan(df)
    assert has_partial_aggregation(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_assignment_is_shuffle_free(spark):
    """IVF centroid assignment must be a per-row fold over a broadcast
    centroid array (sim.nearest_centroid), never a row_number window —
    the window form hash-shuffles corpus×n_centroids rows just to
    reduce n_centroids per key. The only allowed exchanges are the
    tiny single-partition centroid collect (8 rows) and broadcasts;
    the corpus path reaches the cell-probe join unshuffled."""
    plan = formatted_plan(q(spark, "sim_ann_ivf"))
    assert "Window" not in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "TakeOrderedAndProject" in plan


def test_skew_join_really_splits(spark):
    """join_skew_aqe must actually trigger the runtime skew split:
    after execution the FINAL adaptive plan shows skew=true on the
    sort-merge join — otherwise the query is just a slow skewed SMJ
    wearing an AQE costume. Runs at sf0.01 because the hot
    partition's shuffle bytes at sf0.001 sit under the (already
    lowered) trigger threshold. Also asserts the conf sandbox: the
    isolated newSession must not leak the demo thresholds back into
    the shared session."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    df = QUERIES["join_skew_aqe"](spark, "/root/testdata/sf0.01")
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in final, final
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def test_watermark_late_two_level_prefix(spark):
    """stream_watermark_late's running max must stay the two-level
    parallel prefix: the row-level window bucket-partitioned, and at
    most ONE single-partition exchange (the n/4096-row bucket pass) —
    never a global sort of the fact table. The query itself only
    WARNS on these (explain wording can drift across Spark versions);
    this test is the hard gate."""
    plan = formatted_plan(q(spark, "stream_watermark_late"))
    assert "hashpartitioning(bucket" in plan, plan
    assert plan.count("SinglePartition") <= 1, plan


def test_stratified_rebalance_is_broadcast_no_corpus_shuffle(spark):
    """The rebalance sampler must broadcast the per-stratum counts and
    the floor scalar — the corpus itself must not shuffle (its only
    exchange feeds the tiny counts aggregate)."""
    df = q(spark, "sample_stratified_rebalance")
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    # exchanges exist only below the counts/floor aggregates (tiny);
    # the documents scan feeds the broadcast join directly
    assert "SortMergeJoin" not in plan


_FACT_PATH_QUERIES = (
    "agg_reduce_sum", "join_shuffle_equi", "join_asof", "join_asof_binned",
    "window_running_sum", "window_ntile_cume", "window_topk_per_group",
    "stream_session", "dedup_exact", "text_term_freq", "setop_except_all",
    "filter_compound", "project_arith", "sort_multi_key", "limit_topk",
    "timeseries_gapfill", "quality_dedup_rates", "str_fuzzy_levenshtein",
    "setop_dedup", "window_lag_delta", "window_moving_avg",
    "stream_tumbling", "stream_sliding", "agg_salted_hotkey",
)


@pytest.mark.parametrize("name", _FACT_PATH_QUERIES)
def test_fact_paths_have_no_single_partition_exchange(spark, name):
    """The scale-killer class: a SinglePartition exchange on a
    fact-table path serializes the whole table through one task (the
    r4-weak stream_watermark_late shape). None of these fact queries
    has a global scalar aggregate, so their plans must contain ZERO
    single-partition exchanges — grouped aggregates hash-partition,
    global sorts range-partition, top-k rides TakeOrdered. (Queries
    with legitimate tiny global pieces — one-row broadcast scalars,
    bucket-level prefix passes — are deliberately not in this list;
    stream_watermark_late self-lints its own bounded exception.)"""
    plan = formatted_plan(q(spark, name))
    assert "SinglePartition" not in plan, (
        f"{name}: single-partition exchange appeared on a fact path\n{plan}"
    )


def test_sessionize_reuses_one_exchange(spark):
    """sessionize_events runs two window passes and a grouped
    aggregate over the SAME user_id partitioning — Catalyst must plan
    exactly one Exchange (the user_id hash shuffle); a second exchange
    would mean the windows/groupBy diverged in their keys."""
    df = q(spark, "sessionize_events")
    plan = formatted_plan(df)
    assert count_exchanges(df) == 1, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_interval_overlap_is_binned_equi_join(spark):
    """join_interval_overlap must stay an equi join on the time bucket
    (hash-shuffleable at any scale) — never a cartesian/nested-loop
    theta join, which is the quadratic plan the binning exists to
    avoid."""
    df = q(spark, "join_interval_overlap")
    plan = formatted_plan(df)
    assert not has_cartesian(df), plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_zscore_stats_are_broadcast(spark):
    """window_zscore_anomaly's per-type moments (5 rows) must ride a
    broadcast back onto the fact scan — a SortMergeJoin here would
    shuffle the whole events table to meet 5 rows."""
    df = q(spark, "window_zscore_anomaly")
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in formatted_plan(df)


def test_survivors_anti_join_is_broadcast(spark):
    """dedup_survivors' corpus filter must be a broadcast left-anti
    join off the materialized drop set — a SortMergeJoin here would
    shuffle the whole documents table to subtract a tiny kill-list."""
    df = q(spark, "dedup_survivors")
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bitmap_distinct_two_level_partial_agg(spark):
    """agg_bitmap_distinct's whole point is shuffle shape: both
    aggregation levels must partial-aggregate map-side (bitmap
    segments per (day, bucket), then popcount sums per day) so the
    shuffle carries bitmaps, never raw (day, user) rows."""
    df = q(spark, "agg_bitmap_distinct")
    assert has_partial_aggregation(df)
    assert not has_cartesian(df)


def test_minhash_est_join_is_equi_not_cartesian(spark):
    """The estimation join must stay a per-candidate-pair equi-join —
    a cartesian here would be the all-pairs regression the LSH
    pipeline exists to avoid."""
    assert not has_cartesian(q(spark, "dedup_minhash_est"))


def test_python_datasource_composes_with_partial_agg(spark):
    """The aggregate over the custom Python source must partial-
    aggregate per source partition before its one shuffle — a custom
    source is not exempt from map-side combine."""
    df = q(spark, "scan_python_datasource")
    assert has_partial_aggregation(df)
    assert count_exchanges(df) == 1


def test_dynamic_partition_pruning_fires(spark):
    """join_partition_prune_dynamic exists to prove runtime pruning:
    the fact scan's PartitionFilters must carry a
    dynamicpruningexpression sourced from the dim side — without it
    the join would list every partition directory of the fact."""
    plan = formatted_plan(q(spark, "join_partition_prune_dynamic"))
    assert "dynamicpruning" in plan.lower()


def test_pipe_syntax_plans_like_clause_form(spark):
    """The |> pipeline must produce the same operator classes as the
    clause form: pushdown-able filter, partial aggregation before one
    exchange — pipe stages are sugar, not a different engine path.
    (The registered query returns a localCheckpoint so its temp view
    can be dropped; the plan is inspected on the pipe statement
    itself, the same statement the query runs.)"""
    from map_reduce_subnet_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    load_table(spark, SF_DIR, "lineitem").createOrReplaceTempView(
        "mrs_pipe_lint_li"
    )
    try:
        df = spark.sql(
            """
            FROM mrs_pipe_lint_li
            |> WHERE l_quantity < 25
            |> AGGREGATE COUNT(*) AS n_rows GROUP BY l_returnflag
            |> WHERE n_rows > 100
            """
        )
        assert has_partial_aggregation(df)
        assert not has_cartesian(df)
    finally:
        spark.catalog.dropTempView("mrs_pipe_lint_li")


def test_bloom_runtime_filter_reaches_fact_scan(spark):
    """join_bloom_runtime must really inject the row-level runtime
    bloom filter: might_contain on the fact side, no broadcast of the
    filtered dim (the filter exists FOR the shuffle path), and the
    in-query lint raises if injection ever stops firing — run it and
    check the result shape too."""
    from map_reduce_subnet_spark.operators import QUERIES
    from tests.conftest import SF_DIR

    df = QUERIES["join_bloom_runtime"](spark, SF_DIR)  # lint inside
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan
    rows = df.collect()
    assert 0 < len(rows) <= 3  # one row per returnflag
    assert all(r["n_lines"] > 0 for r in rows)


def test_cms_heavy_hitters_bounds_and_determinism(spark):
    """The CMS heavy-hitter query's booleans must all hold (the
    sketch never undercounts; overcount within eps*N+1) and the
    fixed-seed sketch must make the whole result deterministic."""
    from map_reduce_subnet_spark.operators import QUERIES
    from tests.conftest import SF_DIR

    a = QUERIES["agg_cms_heavy_hitters"](spark, SF_DIR).collect()
    assert len(a) == 10
    assert all(r["cms_ok"] for r in a)
    assert all(r["n_events"] > 0 for r in a)
    b = QUERIES["agg_cms_heavy_hitters"](spark, SF_DIR).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pq_adc_serving_is_zero_shuffle(spark):
    """sim_ann_pq_adc's serving claim, pinned mechanically on BOTH
    phases. Phase a (pq_adc_ranked): the search scans the ENCODED
    code table — 16 bytes/row, never the raw vectors — with the ADC
    table inlined as literal CASE lookups; no shuffle exchange, no
    join, TakeOrderedAndProject for the top-k. Phase b (the returned
    frame): a point-lookup of exactly the k winners — the vec_id IN
    filter must reach the parquet scan as a PushedFilter (row-group
    stats skip everything else at scale), again with no exchange and
    no join. These are the plans that survive 100 TB."""
    from map_reduce_subnet_spark.operators.llm import pq_adc_ranked

    ranked = pq_adc_ranked(spark, SF_DIR)
    plan_a = formatted_plan(ranked)
    assert "hashpartitioning" not in plan_a, plan_a
    assert "Join" not in plan_a, plan_a
    assert "Exchange" not in plan_a, plan_a
    assert "TakeOrderedAndProject" in plan_a, plan_a

    final = q(spark, "sim_ann_pq_adc")
    plan_b = formatted_plan(final)
    assert "hashpartitioning" not in plan_b, plan_b
    assert "Join" not in plan_b, plan_b
    assert "Exchange" not in plan_b, plan_b
    assert "TakeOrderedAndProject" in plan_b, plan_b
    assert any("vec_id" in f and "In" in f for f in pushed_filters(final)), (
        pushed_filters(final)
    )


def test_prefix_truncation_pairs_join_broadcast_side(spark):
    """dedup_prefix_truncation's verify step joins the RARE candidate
    pair table back to the corpus — the pair side must broadcast (the
    corpus never reshuffles for the verify), and candidate generation
    must stay bucketed: no cartesian product anywhere in the plan."""
    df = q(spark, "dedup_prefix_truncation")
    assert not has_cartesian(df)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_cep_pattern_is_one_exchange_one_window(spark):
    """events_cep_pattern is sessionization-priced CEP: exactly one
    Exchange (the user_id hash shuffle) and ONE WindowExec evaluating
    all four lead() columns over the same (ts, event_id) frame — a
    second exchange or window would mean the leads diverged in their
    specs, and a SinglePartition exchange would mean the per-user
    pattern scan collapsed onto one task."""
    df = q(spark, "events_cep_pattern")
    plan = formatted_plan(df)
    assert count_exchanges(df) == 1, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert plan.count("Window") - plan.count("WindowGroupLimit") <= 2, plan


def test_ivfpq_serving_scan_is_partition_pruned(spark):
    """sim_ann_ivfpq's serving scan must be the inverted-list fetch
    it advertises: the index is written PARTITIONED BY cell_id, so
    the literal IN-list probe-cells filter (IVFPQ_NPROBE cells) must
    appear as a PartitionFilter (static prune — only the probed
    directories are read, never the other cells') and the ranking
    must reach TakeOrdered with ZERO exchanges (no join on the
    serving path). Lints the ranked frame the key itself serves: the
    probe's cells (_ivfpq_probe_cells) fed to pq_adc_ranked."""
    from map_reduce_subnet_spark.operators.llm import (
        IVFPQ_NPROBE,
        _ivfpq_probe_cells,
        _pq_serving_state,
        pq_adc_ranked,
    )

    st = _pq_serving_state(spark, SF_DIR)
    assert st is not None, "fixture codebook became degenerate"
    cells = _ivfpq_probe_cells(spark, SF_DIR)
    # the multi-list shape below is the point
    assert len(cells) == IVFPQ_NPROBE >= 2, cells
    ranked = pq_adc_ranked(spark, SF_DIR, _st=st, cells=cells)
    assert ranked is not None
    plan = formatted_plan(ranked)
    assert "PartitionFilters: [cell_id" in plan, plan
    assert " IN (" in plan.split("PartitionFilters:")[1].split("]")[0], plan
    assert count_exchanges(ranked) == 0, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_cep_gapped_is_one_exchange_one_sort_two_windows(spark):
    """events_cep_gapped is the forward-as-of composition priced as
    sessionization: exactly ONE Exchange (user_id hash) and ONE Sort
    shared by the two chained suffix-min Windows — a second exchange
    or sort would mean the two window specs diverged (the literal
    as-of self-join shape this operator exists to avoid costs two
    shuffles); a SinglePartition exchange would mean the per-user
    scan collapsed onto one task. The frame must be
    unbounded-PRECEDING (incremental O(n) evaluation) — an
    unboundedfollowing$ frame marker means someone flipped the
    direction back to the O(n²) spelling."""
    df = q(spark, "events_cep_gapped")
    plan = formatted_plan(df)
    assert count_exchanges(df) == 1, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert plan.count("Sort (") == 1, plan
    assert plan.count("Window (") == 2, plan
    assert "unboundedfollowing$" not in plan, plan


def test_fuzzy_blocked_is_three_shuffles_broadcast_verify(spark):
    """dedup_fuzzy_blocked must keep the truncation-dedup shape plus
    its verify repartition: exactly THREE hash exchanges — the capped
    block-key groupBy (over the ×2 exploded head/tail key stream,
    r14), the PAIR-LEVEL dedup the second block key makes necessary
    (a pair agreeing on both keys arrives from two buckets; the
    dedup shuffles only the tiny (a_id, b_id) table), and the
    deliberate repartition that spreads the O(pairs·len·budget)
    levenshtein across the cluster (without it the verify inherits
    the byte-planned documents-scan parallelism: ONE task at
    rehearsal scale — SCALE.md lesson 1).
    The rare pair table rides broadcasts to both text fetches; never
    a cartesian. The let-bound explode must also hold: no plan-level
    Filter carrying a levenshtein (Catalyst would fold it into the
    join condition where codegen subexpression elimination evaluates
    it eagerly per probe)."""
    df = q(spark, "dedup_fuzzy_blocked")
    plan = formatted_plan(df)
    assert count_exchanges(df) == 3, plan
    assert not has_cartesian(df), plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SinglePartition" not in plan, plan
    for blk in plan.split("\n\n"):
        if blk.startswith("(") and ") Filter" in blk.split("\n")[0]:
            assert "levenshtein" not in blk, blk
    joins = [
        blk for blk in plan.split("\n\n") if "Join condition" in blk
    ]
    assert all("levenshtein" not in blk for blk in joins), joins


def test_mjpeg_decode_is_shuffle_free_scan_local(spark):
    """multimodal_decode_mjpeg's plan must be the scan-local media
    decode it advertises: one scan of the cached media table feeding
    the Arrow-batched Python stage directly — ZERO exchanges (the
    binary payload column must never cross a shuffle; a stray
    repartition here ships every MP4 blob over the wire at 100 TB)
    and no join anywhere (demux+decode is per-row)."""
    df = q(spark, "multimodal_decode_mjpeg")
    plan = formatted_plan(df)
    assert count_exchanges(df) == 0, plan
    assert "MapInPandas" in plan, plan
    assert not has_cartesian(df), plan
    assert not has_broadcast_join(df), plan
