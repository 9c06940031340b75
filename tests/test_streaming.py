"""True Structured Streaming jobs vs their batch equivalents.

With trigger(availableNow) over a static fixture, every streaming
result must equal its batch counterpart — the streaming analog of the
differential oracle.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pandas as pd
import pytest
from pyspark.sql import functions as F

from map_reduce_subnet_spark.operators import QUERIES
from tests.conftest import SF_DIR


def _max_event_epoch(sf_dir: str) -> float:
    """Max events.ts as epoch seconds, robust to the fixture's ts
    encoding (timestamp[ns] through r3, timestamp[us] since r4)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ts = pq.read_table(f"{sf_dir}/events.parquet", columns=["ts"])["ts"]
    return pc.max(ts.cast(pa.timestamp("us"))).value / 1e6


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True)


def _events(rows):
    """An events table from (event_id, ts_us, user_id, event_type)
    tuples; value and props are constant."""
    import pyarrow as pa

    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )


def _file_stream(spark, src, tables):
    """Write each events table as one parquet file in ``src`` with
    ascending mtimes and return a stream that reads them one per
    trigger, in that order."""
    from map_reduce_subnet_spark.streaming import jobs

    return jobs._file_stream(spark, str(src), tables)


def test_stream_tumbling_matches_batch(spark):
    """Append-mode semantics: windows still inside the final watermark
    (max event time − 10 min) never close, so the stream emits exactly
    the closed subset of the batch result."""
    stream = QUERIES["stream_tumbling_true"](spark, SF_DIR).toPandas()
    batch = (
        QUERIES["stream_tumbling"](spark, SF_DIR)
        .toPandas()[["win_start", "event_type", "n_events"]]
    )
    watermark = _max_event_epoch(SF_DIR) - 600
    closed = batch[batch["win_start"] + 120 <= watermark]
    # every closed window must be emitted, values identical
    merged = _sorted(stream).merge(
        _sorted(batch), how="left", indicator=True
    )
    assert (merged["_merge"] == "both").all(), "stream emitted unknown rows"
    assert len(stream) >= len(closed), (
        f"stream missed closed windows: {len(stream)} < {len(closed)}"
    )


def test_stream_sliding_matches_batch_closed_panes(spark):
    """Sliding panes emitted by the live stream must exist in the
    batch result with identical values (append mode emits the closed
    subset, like tumbling) — AND every pane closed by the final
    watermark must actually be emitted (a subset check alone would
    pass if most panes were silently dropped)."""
    stream = QUERIES["stream_sliding_true"](spark, SF_DIR).toPandas()
    batch = QUERIES["stream_sliding"](spark, SF_DIR).toPandas()[
        ["win_start", "n_events", "sum_value"]
    ]
    merged = _sorted(stream).merge(_sorted(batch), how="left", indicator=True)
    assert (merged["_merge"] == "both").all(), "stream emitted unknown panes"
    watermark = _max_event_epoch(SF_DIR) - 600
    closed = batch[batch["win_start"] + 600 <= watermark]  # 10-min panes
    assert len(stream) >= len(closed), (
        f"stream missed closed panes: {len(stream)} < {len(closed)}"
    )


def test_stream_dedup_matches_batch(spark):
    stream = QUERIES["stream_dedup_true"](spark, SF_DIR).toPandas()
    batch = QUERIES["stream_dedup"](spark, SF_DIR).toPandas()
    pd.testing.assert_frame_equal(_sorted(stream), _sorted(batch))


def test_stream_stateful_ema_matches_batch(spark):
    """The stream emits the UNROUNDED fold (rounding diverges across
    engines on decimal ties); agg_ema rounds to 6 — compare at that
    precision."""
    stream = QUERIES["stream_stateful_ema"](spark, SF_DIR).toPandas()
    batch = QUERIES["agg_ema"](spark, SF_DIR).toPandas()
    merged = stream.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert len(merged) == len(batch) == len(stream)
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (merged["ema_s"] - merged["ema_b"]).abs().max() < 1e-6


def test_stream_session_matches_batch_closed_sessions(spark):
    """Every emitted streaming session must exist in the batch
    gaps-and-islands result with identical (user, start, count)."""
    stream = QUERIES["stream_session_true"](spark, SF_DIR).toPandas()
    batch = QUERIES["stream_session"](spark, SF_DIR).toPandas()[
        ["user_id", "start_us", "n_events"]
    ]
    merged = _sorted(stream).merge(_sorted(batch), how="left", indicator=True)
    assert (merged["_merge"] == "both").all()
    assert len(stream) > 0


def test_memory_sink_views_are_dropped(spark):
    """Each _run_to_memory invocation must leave the catalog as it
    found it — round 1/2 leaked one uuid-named in-memory table per
    streaming query for the session lifetime. The frame is resolved
    before the drop, so it still reads the sink afterwards, the same
    rows on every read, on both the ``available_now`` drain
    (stream_dedup_true) and the ``process_all`` one
    (stream_python_source_true). Every other drain shape — the
    statestore read, both foreachBatch folds, the Python sink and a
    replayed stream — also leaves no view and no ``mrs_*`` temp dir
    behind, and its frame outlives the deleted dir."""
    import tempfile

    def scratch():
        return {
            n for n in os.listdir(tempfile.gettempdir())
            if n.startswith("mrs_")
        }

    for key in (
        "stream_dedup_true",
        "stream_python_source_true",
        "stream_state_inspect",
        "stream_upsert_foreachbatch",
        "stream_mv_refresh_true",
        "stream_python_sink_true",
        "stream_stateful_ema_batches",
    ):
        before = {t.name for t in spark.catalog.listTables()}
        dirs = scratch()
        df = QUERIES[key](spark, SF_DIR)
        after = {t.name for t in spark.catalog.listTables()}
        assert after == before, f"{key} leaked temp views: {after - before}"
        left = scratch() - dirs
        assert not left, f"{key} left temp dirs: {left}"
        first = sorted(map(tuple, df.collect()))
        assert first, f"{key}: frame must remain usable after the drop"
        assert sorted(map(tuple, df.collect())) == first, key
        assert df.where(F.lit(True)).count() == len(first), key


def test_stream_static_join_matches_batch(spark):
    """The stream-static join is stateless and deterministic: the live
    result must equal the plain batch join exactly."""
    import pyarrow.parquet as pq

    stream = QUERIES["stream_static_join_true"](spark, SF_DIR).toPandas()
    ev = pq.read_table(
        f"{SF_DIR}/events.parquet", columns=["event_id", "user_id", "value"]
    ).to_pandas()
    cust = pq.read_table(
        f"{SF_DIR}/customer.parquet", columns=["c_custkey", "c_name"]
    ).to_pandas()
    batch = ev.merge(cust, left_on="user_id", right_on="c_custkey")[
        ["event_id", "user_id", "c_name", "value"]
    ]
    pd.testing.assert_frame_equal(_sorted(stream), _sorted(batch))


def test_multimodal_frame_sample_matches_python(spark):
    """Frame sampling must equal the bytes-level reference: every 4th
    16-byte frame of the utf-8 payload, with its start index and
    checksum."""
    import pyarrow.parquet as pq

    got = QUERIES["multimodal_frame_sample"](spark, SF_DIR).toPandas()
    docs = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        b = text.encode("utf-8")
        for i in range(0, len(b) // 16, 4):
            rows.append(
                (doc_id, i, sum(b[i * 16 : (i + 1) * 16]) % (1 << 31))
            )
    expect = pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame_sum"])
    pd.testing.assert_frame_equal(
        _sorted(got), _sorted(expect.astype("int64"))
    )


def test_multimodal_features_deterministic(spark):
    a = QUERIES["multimodal_features"](spark, SF_DIR).toPandas()
    b = QUERIES["multimodal_features"](spark, SF_DIR).toPandas()
    pd.testing.assert_frame_equal(_sorted(a), _sorted(b))
    assert (a["n_bytes"] > 0).all()
    assert a["head_hex"].str.len().eq(8).all()


def test_stateful_ema_state_carries_across_micro_batches(spark, tmp_path):
    """The reference's cross-round state (validator.py:146) exercised
    for real: the events fixture is split into 4 time-contiguous files
    fed as 4 micro-batches (maxFilesPerTrigger=1, ascending mtimes so
    the file source picks them in time order), and the per-user EMA
    state must carry across batches — the final fold equals the batch
    closed form, and users appearing in several batches emit a running
    row per batch (update mode), proving state survived between
    triggers."""
    import pyarrow.parquet as pq_mod

    from map_reduce_subnet_spark.streaming.jobs import (
        _run_to_memory,
        stateful_ema,
    )

    tbl = pq_mod.read_table(f"{SF_DIR}/events.parquet")
    order = tbl.column("ts").to_pandas().sort_values(kind="mergesort").index
    tbl = tbl.take(list(order))
    n_files = 4
    step = (tbl.num_rows + n_files - 1) // n_files
    parts = [tbl.slice(i * step, step) for i in range(n_files)]
    ev = _file_stream(spark, tmp_path / "events_stream", parts)
    sink = _run_to_memory(stateful_ema(ev), spark, output_mode="update").toPandas()

    # multiple batches really happened: users seen in >1 batch emit >1
    # running row (one per batch, n_events strictly increasing)
    per_user = sink.groupby("user_id").size()
    assert per_user.max() >= 2, "only one emission per user — single batch?"
    multi = sink[sink["user_id"].isin(per_user[per_user > 1].index)]
    mono = multi.sort_values(["user_id", "n_events"]).groupby("user_id")[
        "n_events"
    ]
    assert (mono.apply(lambda s: s.is_monotonic_increasing)).all()

    # final state per user (row with max n_events) equals the batch
    # closed form — the fold carried across micro-batch boundaries
    final = sink.loc[sink.groupby("user_id")["n_events"].idxmax()]
    batch = QUERIES["agg_ema"](spark, SF_DIR).toPandas()
    merged = final.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert len(merged) == len(batch) == len(final)
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (merged["ema_s"] - merged["ema_b"]).abs().max() < 1e-6


def test_stream_stateful_ema_batches_matches_batch(spark):
    """The registered multi-micro-batch key: final per-user state after
    4 file-triggered batches must equal the batch closed form."""
    stream = QUERIES["stream_stateful_ema_batches"](spark, SF_DIR).toPandas()
    batch = QUERIES["agg_ema"](spark, SF_DIR).toPandas()
    merged = stream.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert len(merged) == len(batch) == len(stream)
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (merged["ema_s"] - merged["ema_b"]).abs().max() < 1e-6


def test_python_datasource_plans_declared_partitions(spark):
    """The custom batch DataSource must plan its declared input
    splits (8 strided partitions) and yield the full row range."""
    from pyspark import cloudpickle as _cp

    from map_reduce_subnet_spark.sources import pydatasource as pds

    _cp.register_pickle_by_value(pds)
    spark.dataSource.register(pds.SyntheticDocsDataSource)
    raw = spark.read.format("synthetic_docs").load()
    assert raw.rdd.getNumPartitions() == pds.SYNTH_N_PARTS
    assert raw.count() == pds.SYNTH_N_ROWS


def test_python_stream_source_spans_micro_batches(spark):
    """The custom stream source must deliver the WHOLE bounded range
    across multiple micro-batches — the AvailableNow fallback would
    silently truncate to the first 1250-row batch, which is exactly
    the failure the process_all drain exists to prevent."""
    from map_reduce_subnet_spark.operators import QUERIES

    df = QUERIES["stream_python_source_true"](spark, SF_DIR).toPandas()
    assert int(df["n_events"].sum()) == 5000


def test_python_stream_source_replay_contract():
    """readBetweenOffsets must reproduce exactly what read() served
    for the same offset range — the determinism a recovering stream
    (replaying a committed-but-unprocessed batch from the checkpoint)
    depends on. Pure offset arithmetic; no Spark session needed."""
    from map_reduce_subnet_spark.sources import pydatasource as pds

    r = pds.SyntheticEventsStreamReader({"total": "100", "batch": "32"})
    off = r.initialOffset()
    collected = []
    for _ in range(20):
        it, nxt = r.read(off)
        rows = list(it)
        if not rows and nxt == off:
            break
        assert list(r.readBetweenOffsets(off, nxt)) == rows
        collected += rows
        off = nxt
    assert collected == [pds.synth_event_row(i) for i in range(100)]


def test_stateful_ema_recovers_across_restart(spark, tmp_path):
    """Checkpoint RECOVERY, not just cross-batch carry: at 100 TB a
    stream restarts routinely, and per-key state must come back from
    the checkpoint, not the previous JVM's memory. The 4-file
    time-split source is killed after draining the first two files;
    a brand-new query (same plan, same checkpointLocation) then
    consumes the remaining two. The union of both runs' update-mode
    emissions must reach the same closed-form fold as the batch
    oracle — only possible if the second query restored every user's
    (ema, n) from the state store and skipped the already-committed
    offsets instead of refolding from scratch."""
    import os
    import time as _time

    import pandas as pd
    import pyarrow.parquet as pq_mod

    from map_reduce_subnet_spark.streaming.jobs import (
        _read_events_stream,
        stateful_ema,
    )

    tbl = pq_mod.read_table(f"{SF_DIR}/events.parquet")
    order = tbl.column("ts").to_pandas().sort_values(kind="mergesort").index
    tbl = tbl.take(list(order))
    src = tmp_path / "events_stream"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    n_files = 4
    step = (tbl.num_rows + n_files - 1) // n_files
    now = _time.time()

    def add_file(i: int) -> None:
        p = src / f"part{i}.parquet"
        pq_mod.write_table(tbl.slice(i * step, step), p)
        os.utime(p, (now + i, now + i))  # mtime order = time order

    def drain_once() -> pd.DataFrame:
        # memory sink refuses to resume from an existing checkpoint;
        # foreachBatch is the fault-tolerant sink shape a deployment
        # uses, and the batch fn runs driver-side so a closure list
        # collects the update-mode emissions
        ev = _read_events_stream(
            spark, str(src / "part0.parquet"), str(src),
            maxFilesPerTrigger="1",
        )
        got: list[pd.DataFrame] = []
        q = (
            stateful_ema(ev)
            .writeStream.foreachBatch(
                lambda bdf, bid: got.append(bdf.toPandas())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive, "availableNow drain did not finish"
        return pd.concat(
            [g for g in got if len(g)], ignore_index=True
        ) if any(len(g) for g in got) else pd.DataFrame(
            columns=["user_id", "ema", "n_events"]
        )

    add_file(0)
    add_file(1)
    s1 = drain_once()  # first life: files 0-1, then the query is gone
    assert len(s1), "first run emitted nothing"
    add_file(2)
    add_file(3)
    s2 = drain_once()  # second life: recover state, read ONLY 2-3
    assert len(s2), "restarted run emitted nothing — offsets not resumed?"

    # the second life must not have refolded the first files: every
    # user present in both runs strictly increased its n_events
    m = s1.groupby("user_id")["n_events"].max().to_frame("n1").join(
        s2.groupby("user_id")["n_events"].max().to_frame("n2"), how="inner"
    )
    assert (m["n2"] > m["n1"]).all(), (
        "restart re-emitted stale counts — state not recovered"
    )

    final = pd.concat([s1, s2], ignore_index=True)
    final = final.loc[final.groupby("user_id")["n_events"].idxmax()]
    batch = QUERIES["agg_ema"](spark, SF_DIR).toPandas()
    merged = final.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert len(merged) == len(batch) == len(final)
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (merged["ema_s"] - merged["ema_b"]).abs().max() < 1e-6


def test_upsert_merge_replay_idempotent(spark):
    """foreachBatch REPLAY discipline (VERDICT r9 #4): after a failure
    Spark redelivers the same batch id, so the upsert sink's per-batch
    merge must satisfy merge(merge(S, B), B) == merge(S, B) — the one
    exactly-once claim in the streaming family that was argued by
    algebra but never mechanically tested. Exercises the module-level
    upsert_latest_merge on a batch with in-batch ties (two events at
    one (user, ts) instant), a NULL user_id (one group, invariant
    #11), and a user present in prior state that the replayed batch
    must NOT regress."""
    import pandas as pd

    from map_reduce_subnet_spark.streaming.jobs import upsert_latest_merge

    ts = pd.Timestamp("2024-01-01 00:00:00.000137")

    def us(seconds):
        return (ts + pd.Timedelta(seconds=seconds)).isoformat()

    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": pd.array([1, 2, 3, 4, 5], dtype="int64"),
                "ts": pd.to_datetime(
                    [us(0), us(10), us(10), us(20), us(30)]
                ),
                "user_id": pd.array([7, 7, 7, 8, None], dtype="Int64"),
                "value": [1.0, 2.0, 3.0, 4.0, 5.0],
            }
        )
    )
    # prior state: user 8 already holds a LATER row than the batch's,
    # user 9 is untouched by the batch
    prior = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": pd.array([8, 9], dtype="Int64"),
                "last_ts_us": pd.array(
                    [1_900_000_000_000_000, 1_700_000_000_000_000],
                    dtype="int64",
                ),
                "last_event_id": pd.array([99, 98], dtype="int64"),
                "last_value": [42.0, 41.0],
            }
        )
    )

    once = upsert_latest_merge(prior, batch).toPandas()
    twice = upsert_latest_merge(
        upsert_latest_merge(prior, batch)
        .localCheckpoint(eager=True),  # materialized, like the parquet state table
        batch,
    ).toPandas()

    def norm(df):
        return (
            df.sort_values("user_id", na_position="first")
            .reset_index(drop=True)
        )

    once, twice = norm(once), norm(twice)
    pd.testing.assert_frame_equal(once, twice)
    # and the merge itself picked the right winners
    by_user = once.set_index("user_id")
    assert by_user.loc[7, "last_event_id"] == 3  # tie on ts -> max event_id
    assert by_user.loc[8, "last_event_id"] == 99  # prior state wins
    assert by_user.loc[9, "last_event_id"] == 98  # untouched carries over
    null_rows = once[once["user_id"].isna()]
    assert len(null_rows) == 1 and null_rows["last_event_id"].iloc[0] == 5


def test_cep_state_carries_partial_match_across_batches(spark, tmp_path):
    """The property the live CEP twin exists for: a pattern whose
    first two stages arrive in micro-batch 0 and whose closing event
    arrives in micro-batch 1 must still fire — the per-user
    last-two-events state has to survive the trigger boundary. Also
    pins append-mode exactly-once (the boundary match is emitted in
    exactly one batch) and the no-match case (a user whose triple
    never completes emits nothing)."""
    from map_reduce_subnet_spark.streaming.jobs import (
        _run_to_memory,
        cep_stream,
    )

    base = 1_700_000_000_000_000  # µs
    m = 60_000_000  # one minute
    # user 1: view+click in file 0, purchase in file 1 (the boundary
    # straddle); user 2: view+click then an interloper — never fires
    f0 = [
        (10, base + 0 * m, 1, "view"),
        (11, base + 1 * m, 1, "click"),
        (20, base + 0 * m, 2, "view"),
        (21, base + 1 * m, 2, "click"),
    ]
    f1 = [
        (12, base + 2 * m, 1, "purchase"),
        (22, base + 2 * m, 2, "error"),
        (23, base + 3 * m, 2, "purchase"),
    ]

    batches = [_events(r) for r in (f0, f1)]
    ev = _file_stream(spark, tmp_path / "cep_batches", batches)
    got = sorted(
        tuple(r)
        for r in _run_to_memory(
            cep_stream(ev, "contiguous", ooo=False),
            spark,
            output_mode="append",
        ).collect()
    )
    assert got == [(1, 10, 12, base, 2 * m)], got


def test_cep_gapped_state_buffers_across_batches(spark, tmp_path):
    """The gapped twin's reason to exist: a NON-ADJACENT pattern whose
    stages land in three different micro-batches (view in batch 0,
    click in batch 1 — with an interloper between them, — purchase in
    batch 2) must still fire, which needs the buffered-views / open-
    pairs state to survive two trigger boundaries. Also pins the
    skip-till-next no-backtracking rule across a boundary (the first
    click after a view is its match even when a later, in-gap click
    arrives in the next batch) and append-mode exactly-once."""
    from map_reduce_subnet_spark.streaming.jobs import (
        _run_to_memory,
        cep_stream,
    )

    base = 1_700_000_000_000_000  # µs
    h = 3_600_000_000  # one hour (CEP_GAP_US = 12 h)
    # user 1: view | interloper+click | purchase — fires across three
    # batches despite non-adjacency.
    # user 2: view, click@1h (its FIRST click), then click@2h in the
    # next batch and a purchase 13h after the FIRST click but within
    # 12h of the SECOND: skip-till-next means the first click owns
    # the match and its purchase window expires — NO row (a
    # backtracking engine would wrongly fire via the second click).
    f0 = [
        (10, base + 0 * h, 1, "view"),
        (20, base + 0 * h, 2, "view"),
        (21, base + 1 * h, 2, "click"),
    ]
    f1 = [
        (11, base + 1 * h, 1, "error"),
        (12, base + 2 * h, 1, "click"),
        (22, base + 2 * h, 2, "click"),
    ]
    f2 = [
        (13, base + 3 * h, 1, "purchase"),
        (23, base + 14 * h, 2, "purchase"),
    ]

    batches = [_events(r) for r in (f0, f1, f2)]
    ev = _file_stream(spark, tmp_path / "cepg_batches", batches)
    got = sorted(
        tuple(r)
        for r in _run_to_memory(
            cep_stream(ev, "gapped", ooo=False),
            spark,
            output_mode="append",
        ).collect()
    )
    assert got == [(1, 10, 12, 13, base, 3 * h)], got


def test_cep_gapped_ooo_boundary_match_out_of_order(spark, tmp_path):
    """The OOO twin's reason to exist (VERDICT r14 #2): a match whose
    stages arrive in REVERSE order across three trigger boundaries
    (purchase in batch 0, click in batch 1, view in batch 2 — each
    arrival within the 1 h reorder window of the newest event seen)
    must still fire EXACTLY ONCE, with the stages matched in EVENT
    order. User 2 is the discriminating counter-case: its events
    ARRIVE as view, click, purchase — the order that made the
    monotone twins fire — but their EVENT times run view, purchase,
    click, so a correct sequencer must NOT match (the purchase
    precedes the click in event time; an engine that folds arrivals
    as-if-newest would wrongly emit here). The final watermark-
    advancer file (user -1, non-stage type) lets the no-data batch
    seal the tail via EventTimeTimeout."""
    from map_reduce_subnet_spark.streaming.jobs import (
        CEP_OOO_DELAY_US,
        _run_to_memory,
        cep_stream,
    )

    base = 1_700_000_000_000_000  # µs
    m = 60_000_000  # one minute (reorder window = 60 of these)
    # user 1 event times: view@0, click@10m, purchase@20m —
    # DELIVERED reversed (purchase, click, view across batches 0-2).
    # Lateness at each arrival: click 10m, view 20m — inside 1 h.
    # user 2 event times: view@0, purchase@5m, click@10m — DELIVERED
    # view, click, purchase (click arrives before the earlier-
    # timestamped purchase).
    f0 = [
        (12, base + 20 * m, 1, "purchase"),
        (20, base + 0 * m, 2, "view"),
    ]
    f1 = [
        (11, base + 10 * m, 1, "click"),
        (22, base + 10 * m, 2, "click"),
    ]
    f2 = [
        (10, base + 0 * m, 1, "view"),
        (21, base + 5 * m, 2, "purchase"),
    ]
    adv_ts = base + 20 * m + CEP_OOO_DELAY_US + 1_000_000
    f3 = [(-1, adv_ts, -1, "__advance__")]

    batches = [_events(r) for r in (f0, f1, f2, f3)]
    ev = _file_stream(spark, tmp_path / "cepooo_batches", batches)
    got = sorted(
        tuple(r)
        for r in _run_to_memory(
            cep_stream(ev, "gapped", ooo=True),
            spark,
            output_mode="append",
        ).collect()
    )
    assert got == [(1, 10, 11, 12, base, 20 * m)], got


def test_cep_gapped_ooo_matches_batch_under_random_bounded_delivery(
    spark, tmp_path
):
    """Property pin for the OOO twin: on a seeded random event corpus,
    TWO different bounded-lateness delivery permutations (fresh
    uniform jitter per event, strictly inside the 1 h reorder window)
    must both reproduce the BATCH events_cep_gapped answer exactly —
    the match set is a function of event time only, never of arrival
    order. This is the property the monotone twins could not state.
    The time-sorted delivery (no jitter, no advancer) driven through
    the in-order modes must reproduce both batch twins too."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    from map_reduce_subnet_spark.operators import QUERIES
    from map_reduce_subnet_spark.streaming.jobs import (
        CEP_OOO_DELAY_US,
        _run_to_memory,
        cep_stream,
    )

    rng = np.random.RandomState(20260817)
    n = 600
    base = 1_700_000_000_000_000  # µs
    span = 6 * 3_600_000_000  # 6 h of event time
    ts = base + np.sort(rng.randint(0, span, size=n).astype("int64"))
    users = rng.randint(0, 25, size=n).astype("int64")
    types = rng.choice(
        ["view", "click", "purchase", "error"], size=n, p=[0.3, 0.3, 0.2, 0.2]
    )
    tbl = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users),
            "event_type": pa.array(types),
            "value": pa.array(np.ones(n)),
            "props": pa.array(["{}"] * n),
        }
    )
    fixture = tmp_path / "fixture"
    fixture.mkdir()
    pq_mod.write_table(tbl, str(fixture / "events.parquet"))
    want = sorted(
        tuple(r)
        for r in QUERIES["events_cep_gapped"](spark, str(fixture)).collect()
    )
    assert want, "degenerate corpus: no matches to protect"
    # the contiguous OOO twin rides the same delivery permutations
    # (r15 family completion): its batch twin is the second anchor
    want_contig = sorted(
        tuple(r)
        for r in QUERIES["events_cep_pattern"](spark, str(fixture)).collect()
    )
    assert want_contig, "degenerate corpus: no contiguous matches"

    def files(order):
        shuffled = tbl.take(pa.array(order, type=pa.int64()))
        step = (n + 3) // 4  # 4 files
        return [shuffled.slice(i * step, step) for i in range(4)]

    def drain(name, tables, pattern, ooo):
        ev = _file_stream(spark, tmp_path / name, tables)
        return sorted(
            tuple(r)
            for r in _run_to_memory(
                cep_stream(ev, pattern, ooo), spark, output_mode="append"
            ).collect()
        )

    adv_ts = int(ts.max()) + CEP_OOO_DELAY_US + 1_000_000
    advancer = _events([(-1, adv_ts, -1, "__advance__")])
    jitter_bound = CEP_OOO_DELAY_US // 2
    for perm in range(2):
        order = np.lexsort(
            (
                np.arange(n),
                ts + rng.randint(0, jitter_bound, size=n).astype("int64"),
            )
        )
        delivery = files(order) + [advancer]
        got = drain(f"delivery{perm}g", delivery, "gapped", True)
        assert got == want, f"permutation {perm} diverged (gapped)"
        got2 = drain(f"delivery{perm}c", delivery, "contiguous", True)
        assert got2 == want_contig, (
            f"permutation {perm} diverged (contiguous)"
        )
    # ts is sorted and event_id is the row number: already in
    # (ts, event_id) order
    in_order = files(np.arange(n))
    got = drain("sorted_g", in_order, "gapped", False)
    assert got == want, "time-sorted delivery diverged (gapped)"
    got2 = drain("sorted_c", in_order, "contiguous", False)
    assert got2 == want_contig, "time-sorted delivery diverged (contiguous)"


def test_cep_ooo_contiguous_boundary_and_fabrication_guard(
    spark, tmp_path
):
    """The contiguous OOO twin's two obligations: (user 1) a triple
    whose stages ARRIVE reversed across three trigger boundaries
    still fires exactly once; (user 2) the discriminating
    fabrication case — events ARRIVE as view, click, purchase (the
    adjacency the monotone fold would see and match) but their EVENT
    times interleave an error between view and click, so the correct
    sequencer must NOT fire: contiguous semantics make as-if-newest
    folding fabricate matches, not just shift them."""
    from map_reduce_subnet_spark.streaming.jobs import (
        CEP_OOO_DELAY_US,
        _run_to_memory,
        cep_stream,
    )

    base = 1_700_000_000_000_000  # µs
    m = 60_000_000  # one minute
    # user 1 event times: view@0, click@10m, purchase@20m — delivered
    # purchase, click, view. user 2 event times: view@0, error@5m,
    # click@10m, purchase@15m — delivered view, click, purchase,
    # error (the error arrives LAST, within the reorder window).
    f0 = [
        (12, base + 20 * m, 1, "purchase"),
        (20, base + 0 * m, 2, "view"),
        (22, base + 10 * m, 2, "click"),
    ]
    f1 = [
        (11, base + 10 * m, 1, "click"),
        (23, base + 15 * m, 2, "purchase"),
    ]
    f2 = [
        (10, base + 0 * m, 1, "view"),
        (21, base + 5 * m, 2, "error"),
    ]
    adv_ts = base + 20 * m + CEP_OOO_DELAY_US + 1_000_000
    f3 = [(-1, adv_ts, -1, "__advance__")]

    batches = [_events(r) for r in (f0, f1, f2, f3)]
    ev = _file_stream(spark, tmp_path / "cepco_batches", batches)
    got = sorted(
        tuple(r)
        for r in _run_to_memory(
            cep_stream(ev, "contiguous", ooo=True),
            spark,
            output_mode="append",
        ).collect()
    )
    assert got == [(1, 10, 12, base, 20 * m)], got


_SCOPED_CONFS = (
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.checkpointFileManagerClass",
)


@pytest.fixture
def drain_spy(spark, monkeypatch):
    """Record every drained query with the session's value of each conf
    the stream start scopes, read while the query drains."""
    from pyspark.sql.streaming.query import StreamingQuery

    drains = []
    await_termination = StreamingQuery.awaitTermination

    def spy(self, timeout=None):
        drains.append(
            (self, {k: spark.conf.get(k, None) for k in _SCOPED_CONFS})
        )
        return await_termination(self, timeout)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", spy)
    return drains


def _dedup_stream(spark, path):
    base = 1_700_000_000_000_000  # µs
    m = 60_000_000  # one minute
    # event_ids 0-4, each seen twice 5 minutes apart
    rows = [(i % 5, base + i * m, 1, "view") for i in range(10)]
    ev = _file_stream(spark, path, [_events(rows)])
    return ev.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"])


def test_emit_on_arrival_restores_conf_before_drain(
    spark, tmp_path, drain_spy
):
    """``emit_on_arrival=True`` must skip the no-data micro-batch
    without leaving the session-wide conf flipped while the stream
    drains: the query snapshots its conf at start(), so the session
    is restored before awaitTermination. The watermarked dedup still
    emits every first occurrence, and no zero-input batch runs."""
    from map_reduce_subnet_spark.streaming.jobs import _run_to_memory

    prior = {k: spark.conf.get(k, None) for k in _SCOPED_CONFS}
    got = _run_to_memory(
        _dedup_stream(spark, tmp_path / "dedup").select("event_id"),
        spark,
        emit_on_arrival=True,
    ).collect()

    assert [confs for _, confs in drain_spy] == [prior]
    assert sorted(r.event_id for r in got) == [0, 1, 2, 3, 4]
    progress = drain_spy[0][0].recentProgress
    assert progress, "no micro-batch ran"
    assert all(p.numInputRows > 0 for p in progress), [
        p.numInputRows for p in progress
    ]


def test_stream_state_partitions_capped_at_task_slots(
    spark, tmp_path, drain_spy
):
    """A stateful drain runs min(session shuffle partitions, task
    slots) state partitions — streaming plans have no AQE to coalesce
    them — while the session keeps reading its own value during the
    drain. The session value stays the ceiling: set below the slot
    count, it is used as is."""
    from map_reduce_subnet_spark.streaming.jobs import _run_to_memory

    key = "spark.sql.shuffle.partitions"
    assert spark.conf.get(key) == "8"
    slots = spark.sparkContext.defaultParallelism
    counts = []
    for session_value in ("8", "2"):
        spark.conf.set(key, session_value)
        try:
            _run_to_memory(
                _dedup_stream(spark, tmp_path / f"dedup{session_value}"),
                spark,
            ).collect()
        finally:
            spark.conf.set(key, "8")
        query, confs = drain_spy[-1]
        assert confs[key] == session_value
        counts.append(
            query.recentProgress[-1].stateOperators[0].numShufflePartitions
        )

    assert counts == [min(8, slots), min(2, slots)], (counts, slots)


@pytest.mark.parametrize("drain", ["available_now", "process_all"])
def test_run_to_memory_starts_no_job_after_termination(
    spark, tmp_path, monkeypatch, drain
):
    """The drained sink is handed back as is: once the query has
    terminated, ``_run_to_memory`` starts no Spark job (a copy of the
    sink's rows would be one). Every job the calling thread starts
    after ``awaitTermination`` returns falls in a fresh job group."""
    from pyspark.sql.streaming.query import StreamingQuery

    from map_reduce_subnet_spark.streaming.jobs import _run_to_memory

    sc = spark.sparkContext
    group = f"after-termination-{drain}"
    await_termination = StreamingQuery.awaitTermination

    def mark(self, timeout=None):
        done = await_termination(self, timeout)
        sc.setJobGroup(group, "after the drain")
        return done

    monkeypatch.setattr(StreamingQuery, "awaitTermination", mark)
    try:
        df = _run_to_memory(
            _dedup_stream(spark, tmp_path / "dedup").select("event_id"),
            spark,
            drain=drain,
        )
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == [], jobs
    assert sorted(r.event_id for r in df.collect()) == [0, 1, 2, 3, 4]


def test_checkpoint_manager_is_local_only():
    """Checkpoints on the local filesystem use the FileSystem-based
    manager; any other scheme keeps Spark's default (None). An unset
    or schemeless location resolves against ``fs.defaultFS``."""
    from map_reduce_subnet_spark.streaming.jobs import (
        _FS_CHECKPOINT_MANAGER,
        _checkpoint_manager,
    )

    local = (None, "/tmp/ckpt", "ckpt", "file:/tmp/ckpt", "file:///tmp/ckpt")
    for location in local:
        for default_fs in (None, "file:///"):
            got = _checkpoint_manager(location, default_fs)
            assert got == _FS_CHECKPOINT_MANAGER, (location, default_fs)
    for location in ("hdfs://nn:8020/ckpt", "s3a://bucket/ckpt"):
        assert _checkpoint_manager(location, "file:///") is None
    for location in (None, "/ckpt"):
        assert _checkpoint_manager(location, "hdfs://nn:8020") is None
    got = _checkpoint_manager("file:/ckpt", "hdfs://nn:8020")
    assert got == _FS_CHECKPOINT_MANAGER


def test_every_stream_drains_through_one_helper():
    """Every stream in streaming/jobs.py starts, waits and stops in
    ``_drain``, and every foreachBatch sink folds in ``_fold_batches``:
    no other function calls a stream-lifecycle method."""
    import ast

    from map_reduce_subnet_spark.streaming import jobs

    lifecycle = {
        "start",
        "trigger",
        "awaitTermination",
        "processAllAvailable",
        "foreachBatch",
    }
    with open(jobs.__file__) as f:
        tree = ast.parse(f.read())
    calls = [
        (getattr(top, "name", "<module>"), node.func.attr, node.lineno)
        for top in tree.body
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in lifecycle
    ]
    outside = [c for c in calls if c[0] not in ("_drain", "_fold_batches")]
    assert not outside, outside
    assert {attr for _, attr, _ in calls} == lifecycle, calls


_CHECKPOINT_SCRIPT = textwrap.dedent(
    """
    import json, os, sys
    root, log, sf_dir, work = sys.argv[1:5]
    sys.path.insert(0, root)
    from map_reduce_subnet_spark.operators import QUERIES
    from map_reduce_subnet_spark.session import get_spark
    from map_reduce_subnet_spark.streaming.jobs import (
        _drain,
        _read_event_stream,
    )

    spark = get_spark(master="local[4]", shuffle_partitions=4)


    def logged():
        with open(log) as f:
            return f.read().split()


    def checkpoint_files(name, start):
        ckpt = os.path.join(work, name)
        writer = (
            _read_event_stream(spark, sf_dir)
            .withWatermark("ts", "10 minutes")
            .dropDuplicates(["event_id"])
            .writeStream.format("noop")
            .option("checkpointLocation", ckpt)
        )
        if not start(writer).awaitTermination(300):
            raise TimeoutError(name)
        return sorted(
            os.path.relpath(os.path.join(d, f), ckpt)
            for d, _, files in os.walk(ckpt)
            for f in files
        )


    out = {}
    n = len(logged())
    QUERIES["stream_dedup_true"](spark, sf_dir).collect()
    out["drain"] = logged()[n:]
    n = len(logged())
    out["scoped"] = checkpoint_files("scoped", lambda w: _drain(w, spark))
    out["scoped_forks"] = logged()[n:]
    out["default"] = checkpoint_files(
        "default", lambda w: w.trigger(availableNow=True).start()
    )
    spark.stop()
    print(json.dumps(out))
    """
)


def test_local_checkpoints_fork_no_readlink_and_keep_their_files(tmp_path):
    """Without the native Hadoop library, Spark's default checkpoint
    manager forks a ``readlink`` per overwrite-rename (112 on a
    stream_dedup_true drain at 4 state partitions). In a session whose
    PATH leads with logging wrappers for Hadoop's shell commands, a
    stateful ``_run_to_memory`` drain and a ``_drain`` drain fork none.
    The ``_drain`` drain's checkpoint holds the same files, Hadoop's
    ``.crc`` and Spark's ``N.delta.crc`` state checksums included, as
    a plain ``writer.start()`` under Spark's default manager."""
    from scripts.shell_forks import write_wrappers

    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    log = tmp_path / "commands.log"
    log.touch()
    write_wrappers(str(bin_dir), str(log))
    env = {
        **os.environ,
        "PATH": f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _CHECKPOINT_SCRIPT, root, str(log), SF_DIR,
         str(tmp_path)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])

    assert "readlink" not in out["drain"], out["drain"]
    assert "readlink" not in out["scoped_forks"], out["scoped_forks"]
    assert out["scoped"] == out["default"]
    files = out["scoped"]
    assert {"state/0/0/1.delta.crc", "state/0/0/.1.delta.crc"} <= set(files)
    assert {"offsets/.0.crc", "commits/.0.crc", "sources/0/.0.crc"} <= set(
        files
    )
