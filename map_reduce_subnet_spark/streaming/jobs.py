"""True Structured Streaming jobs (SURVEY.md §2.2.I, streaming forms).

Each job reads the events fixture as a file stream, applies the
streaming operator (watermarked windows and dedup, stream joins,
per-group state via ``applyInPandasWithState``, one CEP operator with
in-order and out-of-order modes) and drains it with
``trigger(availableNow=True)`` into a memory sink, which is returned as
a batch DataFrame (resolved before its view is dropped from the
catalog, so it reads the sink without a copy). The
multi-trigger jobs replay the fixture as two ascending-mtime files read
one per trigger (:func:`_replay`), so their state must survive a
trigger boundary. Jobs whose append-mode output depends on a watermark
cutoff carry an oracle that reproduces Spark's watermark clock; the
stateful jobs are deterministic and share their batch twins' oracles.

Grounding: the reference's unbounded step loop with per-round state
(reference neurons/miner.py:175, neurons/validator.py:116-170); the
EMA fold (reference neurons/validator.py:109,146); staleness/resync →
watermark (reference neurons/validator.py:166-170).

Scale: these are the operators that replace the batch simulations at
100 TB — state lives in the state store (RocksDB on a real cluster),
keyed by group, with watermark-driven eviction; no global sort, no
driver-held state.
"""

from __future__ import annotations

import os
import tempfile
import threading
import uuid
from collections.abc import Iterator
from contextlib import contextmanager, suppress

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import (
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from map_reduce_subnet_spark.functions.stable import dsum, sql_dsum
from map_reduce_subnet_spark.operators.joins import PIT_ORACLE as _PIT_ORACLE
from map_reduce_subnet_spark.operators.warehouse import (
    MV_FULL_ORACLE as _MV_FULL_ORACLE,
)
from map_reduce_subnet_spark.operators.registry import query
from map_reduce_subnet_spark.operators.streaming_batch import (
    CEP_GAP_US,
    CEP_GAPPED_ORACLE,
    CEP_ORACLE,
    CEP_SPAN_US,
    CEP_STAGES,
)
from map_reduce_subnet_spark.sources.tables import load_table


def _events_schema(ts_type: DataType) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def _read_events_stream(
    spark: SparkSession, probe_file: str, glob_path: str, **options: str
) -> DataFrame:
    """Build a file-source stream over events parquet with `ts`
    normalized to TIMESTAMP (LTZ, UTC session) — the same one-type
    contract as the batch loader (sources/tables.py).

    Streaming sources must declare their schema before the first read,
    so the on-disk encoding is probed from the parquet footer
    (pyarrow.parquet.read_schema) and the declared schema + conversion
    branch on it:
      - timestamp[ns]        -> LongType + nanosAsLong, integer
                                DIV 1000, timestamp_micros()
      - timestamp[us] (NTZ)  -> TimestampNTZType, cast to TIMESTAMP
                                (value-preserving: session TZ is UTC)
      - timestamp[us, tz=*]  -> TimestampType, passthrough
    Fixtures exist in both the ns and the us encoding (FIXTURES.md);
    declaring nanos against a microsecond file silently compresses
    event time 1000x, which is exactly the regression this probe
    exists to prevent (tests/test_edge_inputs.py pins all three
    encodings).

    EVERY file matched by the glob is probed, not just one: a
    directory mixing ns and us files (plausible across fixture
    regenerations) would otherwise read the other encoding 1000x off
    with no error — a mixed directory RAISES instead. Footer probes
    are O(KB) metadata reads and happen once at stream start, so this
    stays cheap even over many files."""
    import glob as _glob
    import os

    import pyarrow.parquet as pq

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    matches = (
        sorted(_glob.glob(os.path.join(glob_path, "*.parquet")))
        if os.path.isdir(glob_path)
        else sorted(_glob.glob(glob_path))
    ) or [probe_file]
    # A glob match can itself be a DIRECTORY (real corpora arrive as
    # directory tables of many part files — the sf1 rehearsal layout):
    # descend one level so the footer probe always reads
    # files. pq.read_schema on a directory raises.
    candidates = []
    for m in matches:
        if os.path.isdir(m):
            candidates.extend(
                sorted(_glob.glob(os.path.join(m, "*.parquet")))
            )
        else:
            candidates.append(m)
    ts_types = {f: str(pq.read_schema(f).field("ts").type) for f in candidates}
    if len(set(ts_types.values())) > 1:
        raise ValueError(
            "mixed events.ts parquet encodings in one stream source — "
            "a single declared schema would silently misread some "
            f"files: {ts_types}"
        )
    ts_type = next(iter(ts_types.values()))
    if ts_type == "timestamp[ns]":
        declared: DataType = LongType()
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    elif ts_type.startswith("timestamp[us"):
        declared = (
            TimestampType() if "tz=" in ts_type else TimestampNTZType()
        )
    else:
        raise ValueError(
            f"unsupported events.ts parquet type {ts_type!r}; expected "
            "timestamp[ns] or timestamp[us]"
        )
    reader = spark.readStream.schema(_events_schema(declared))
    for k, v in options.items():
        reader = reader.option(k, v)
    raw = reader.parquet(glob_path)
    if isinstance(declared, LongType):
        # integer DIV keeps full precision at 1.7e18 epoch-nanos
        return raw.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if isinstance(declared, TimestampNTZType):
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture. The [p] glob makes
    the file-source resolve basePath to the parent directory (a bare
    file path is rejected: "basePath must be a directory"); on a real
    deployment this is simply a directory of parquet files."""
    return _read_events_stream(
        spark, f"{sf_dir}/events.parquet", f"{sf_dir}/events.[p]arquet"
    )


# Spark's checkpoint file manager that renames with FileSystem.rename
# (see _start); its default renames through Hadoop's FileContext.
_CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


# Held over a stream's start-up window (see _drain).
_START_LOCK = threading.Lock()


def _checkpoint_manager(
    location: str | None, default_fs: str | None
) -> str | None:
    """The checkpoint file manager for checkpoints under ``location``
    (the session's ``spark.sql.streaming.checkpointLocation``, or None
    when unset), or None to keep Spark's default. A location without a
    scheme, and an unset one, resolve against Hadoop's ``default_fs``
    (``fs.defaultFS``; unset means the local filesystem)."""
    from urllib.parse import urlparse

    scheme = urlparse(location or "").scheme or urlparse(
        default_fs or "file:///"
    ).scheme
    return _FS_CHECKPOINT_MANAGER if scheme == "file" else None


def _drain(
    writer: DataStreamWriter,
    spark: SparkSession,
    drain: str = "available_now",
    emit_on_arrival: bool = False,
) -> StreamingQuery:
    """Start ``writer`` (no trigger set), drain it to the end of its
    input and return the terminated query. Every stream here starts,
    waits and cleans up through this one function.

    ``drain="available_now"`` is one Trigger.AvailableNow pass (file
    sources), awaited for up to 300 s. ``drain="process_all"`` runs
    continuous micro-batches until processAllAvailable() observes an
    idle source, then stops the query and awaits it for up to 60 s —
    required for custom Python stream sources, whose
    PythonMicroBatchStream does not support AvailableNow (Spark falls
    back to a SINGLE batch and silently truncates the stream). A query
    that does not terminate in time is stopped and raises
    ``TimeoutError``; whatever its sink holds is partial.

    ``emit_on_arrival=True`` skips the final NO-DATA micro-batch
    (``spark.sql.streaming.noDataMicroBatches.enabled=false``). That
    batch acts on the watermark advanced by the last data batch: it
    EMITS rows for append-mode aggregations, outer joins and stateful
    timeouts, so those drains must keep it. For operators that emit
    every row on ARRIVAL (inner stream-stream joins,
    dropDuplicates[WithinWatermark]) it only evicts state, which a
    terminating drain with a discarded checkpoint pays for nothing —
    mostly state-store commit. Callers MUST emit entirely from data
    batches; each caller's oracle MATCH is the pin.

    The query runs at most one state partition per task slot:
    ``spark.sql.shuffle.partitions`` is lowered to
    ``min(<session value>, defaultParallelism)`` for this query only.
    Streaming plans run without AQE, so nothing coalesces a stateful
    operator's shuffle: every state partition is a task, and a store
    load and commit, on every micro-batch. At the batch default of 32
    partitions on 4 slots that is 8 waves of mostly-empty commits. The
    session value stays the ceiling, and the cap itself never goes
    below the slot count (fewer partitions than slots measured a loss).

    The count is pinned in the checkpoint at the query's first start.
    Every drain here starts from a fresh checkpoint, so it always
    takes the current slot count; a long-lived deployment that
    restarts from its checkpoint on a resized cluster should set its
    own count explicitly.

    Local checkpoints are written through Hadoop's FileSystem API
    (``FileSystemBasedCheckpointFileManager``). Spark's default
    manager writes every offsets, commits, state-delta and checksum
    file by an overwrite-rename through ``FileContext``, which looks
    up the target's link status first; without the native Hadoop
    library that lookup forks a ``readlink`` process per file, and the
    state-store tasks wait on those forks while they commit.
    ``FileSystem.rename`` on the local filesystem is one atomic
    ``rename(2)``. Spark's state checksums and Hadoop's ``.crc`` files
    are written as before. On a 4-core VM, a ``stream_dedup_true``
    drain forked 152 shell commands (112 ``readlink``) at 4 state
    partitions and 740 at 32; ``stream_tumbling_true`` forked 252 and
    1,400. With this manager neither forks a ``readlink``; the
    ``chmod`` per created file or directory (40 and 180 on the
    dedup drain) remains, since only the native library avoids it. The rule is local-only
    (:func:`_checkpoint_manager`): it applies when the session's
    ``spark.sql.streaming.checkpointLocation`` (or ``fs.defaultFS``,
    for an unset or schemeless one) is a ``file`` location. Any other
    scheme, such as ``hdfs`` or ``s3a``, keeps Spark's default
    manager, whose ``FileContext`` overwrite-rename is what those
    filesystems need; so does a session that sets its own manager. A
    writer's own ``checkpointLocation`` option is not consulted: every
    one passed here is a local temp dir.

    The query snapshots the session conf at ``start()``, so the scoped
    confs are set just before it and restored before the wait: the
    session never reads the scoped values while the stream drains.
    The one exception to the snapshot is a source's offset log
    (``sources/<n>``), which the query's thread builds from the live
    session conf once ``start()`` has returned, so with the manager
    scoped the restore waits for the query's initialization.

    Drains from several threads share the caller's session, so that
    start-up window (reading the scoped values, setting them, starting,
    initializing, restoring) runs under one process-wide lock. Without
    it a drain starting inside another's window takes that drain's
    scoped values as its own: a tumbling drain then runs without its
    closing no-data batch and emits nothing, a later drain reads the
    other's scoped manager as the caller's and skips its own, and the
    last restore leaves the caller's session on scoped values. Only
    the start-up is serialized; the drains themselves overlap.
    Building each stream on a clone of the session would need no lock,
    but a clone's queries report to the clone's listeners, not the
    caller's."""
    if drain == "process_all":
        writer, timeout = writer.trigger(processingTime="0 seconds"), 60
    else:
        writer, timeout = writer.trigger(availableNow=True), 300
    with _START_LOCK:
        key = "spark.sql.shuffle.partitions"
        slots = spark.sparkContext.defaultParallelism
        scoped = {key: str(min(int(spark.conf.get(key)), slots))}
        if emit_on_arrival:
            scoped["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
        if spark.conf.get(_CHECKPOINT_MANAGER_KEY, None) is None:
            manager = _checkpoint_manager(
                spark.conf.get("spark.sql.streaming.checkpointLocation", None),
                spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS"),
            )
            if manager is not None:
                scoped[_CHECKPOINT_MANAGER_KEY] = manager
        prior = {k: spark.conf.get(k, None) for k in scoped}
        for k, v in scoped.items():
            spark.conf.set(k, v)
        try:
            q = writer.start()
            if _CHECKPOINT_MANAGER_KEY in scoped:
                # Sources are built after start() returns (see above). A
                # query that dies first raises where it is awaited below.
                with suppress(StreamingQueryException):
                    q._jsq.streamingQuery().awaitInitialization(60_000)
        finally:
            for k, v in prior.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    if drain == "process_all":
        q.processAllAvailable()
        q.stop()
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not terminate within "
            f"{timeout}s"
        )
    return q


def _run_to_memory(
    stream_df: DataFrame,
    spark: SparkSession,
    output_mode: str = "append",
    drain: str = "available_now",
    emit_on_arrival: bool = False,
) -> DataFrame:
    """Drain the stream into a memory sink (:func:`_drain`, which
    describes ``drain`` and ``emit_on_arrival``) and return the sink
    table as a batch frame.

    The sink table is resolved into a frame before its temp view is
    dropped (also on the timeout path), so no invocation leaks a
    uuid-named in-memory table for the session lifetime. The frame's
    plan holds the finished sink itself, not the view's name: reading
    it after the drop starts no copy job and returns the drained rows,
    which stay on the driver at least as long as the frame."""
    name = "s" + uuid.uuid4().hex[:12]
    try:
        _drain(
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode),
            spark,
            drain,
            emit_on_arrival,
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def _file_stream(
    spark: SparkSession,
    directory: str,
    tables: list,
    schema: StructType | None = None,
) -> DataFrame:
    """Write each Arrow table as one parquet file in ``directory``
    (created if missing) with ascending mtimes, and return a file
    stream that reads them one per trigger (maxFilesPerTrigger=1), in
    that order. With no ``schema`` the files are events tables, read
    through :func:`_read_events_stream`."""
    import time as _time

    import pyarrow.parquet as pq_mod

    os.makedirs(directory, exist_ok=True)
    now = _time.time()
    for i, table in enumerate(tables):
        p = os.path.join(directory, f"part{i}.parquet")
        pq_mod.write_table(table, p)
        os.utime(p, (now + i, now + i))  # mtime order = delivery order
    if schema is None:
        first = os.path.join(directory, "part0.parquet")
        return _read_events_stream(
            spark, first, directory, maxFilesPerTrigger="1"
        )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(directory)
    )


def _fold_batches(
    stream: DataFrame,
    spark: SparkSession,
    root: str,
    schema: str,
    fold,
    state_dir: str | None = None,
) -> DataFrame:
    """Drain ``stream`` through foreachBatch into a parquet state table
    under ``root`` and return the final table (read lazily: the caller
    owns ``root``), or an empty frame of ``schema`` when no batch fired
    and there was no ``state_dir``.

    Each micro-batch calls ``fold(old, batch_df)`` with the current
    table (read with ``schema``; None before the first batch when there
    is no starting ``state_dir``) and writes what it returns to a NEW
    versioned directory; the pointer swaps only after the write
    completes (an overwrite of the directory being read would race the
    readers that feed it — the same swap discipline a lakehouse MERGE
    provides transactionally). foreachBatch runs on the driver; the
    plans inside execute distributed, in the stream's session."""
    versions = [] if state_dir is None else [state_dir]

    def apply(batch_df, batch_id):
        old = (
            batch_df.sparkSession.read.schema(schema).parquet(versions[-1])
            if versions
            else None
        )
        new_dir = os.path.join(root, f"state_v{len(versions)}")
        fold(old, batch_df).write.parquet(new_dir)
        versions.append(new_dir)  # swap AFTER the write completes

    _drain(
        stream.writeStream.foreachBatch(apply).option(
            "checkpointLocation", os.path.join(root, "ckpt")
        ),
        spark,
    )
    if not versions:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(versions[-1])


# The OOO CEP reorder window: an event may arrive up to this long
# (event time) after a later-timestamped event and still be sequenced
# correctly — the watermark delay of the OOO CEP stream.
CEP_OOO_DELAY_US = 3_600_000_000  # 1 h

# The OOO replay's maximum delivery displacement, strictly less than
# CEP_OOO_DELAY_US, so no replayed event arrives later than the
# reorder window and the oracle equality proves zero drops (30 min vs
# the fixture's ~3 min median inter-event spacing: a typical event is
# displaced past ~10 others).
CEP_OOO_JITTER_US = 1_800_000_000  # 30 min


@contextmanager
def _replay(
    spark: SparkSession, sf_dir: str, ooo: bool = False
) -> Iterator[DataFrame]:
    """Replay the events fixture as a stream of TWO micro-batches: two
    parquet files in a temp dir, read one per trigger
    (:func:`_file_stream`), so per-key state must survive the trigger
    boundary to give the right answer. The temp dir is removed on
    exit, so callers drain (and materialize) inside the block.

    In order (default), the files are the fixture sorted by
    (ts, event_id) and split in half: each file is time-contiguous.
    With ``ooo=True`` the delivery order is ts + a deterministic
    jitter(event_id) < CEP_OOO_JITTER_US, and one WATERMARK-ADVANCER
    row (user -1, non-stage type, CEP_OOO_DELAY_US past the fixture
    maximum) ends the last file: while its batch runs the watermark
    still predates it, and the no-data batch after it has a watermark
    past every real event, so the EventTimeTimeout flush seals the
    tail. An empty fixture gets no advancer (nothing to flush).

    Two triggers are the minimum that still forces cross-trigger
    state, and every job replayed here has a split-invariant result;
    each extra trigger pays planning plus a state-store commit. The
    deeper splits stay pinned by the multi-file tests in
    tests/test_streaming.py. The split is fixture plumbing: a
    deployment's stream arrives in its own order."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    tbl = pq_mod.read_table(f"{sf_dir}/events.parquet")
    ts_us = (
        tbl.column("ts")
        .to_pandas()
        .values.astype("datetime64[us]")
        .astype("int64")
    )
    eid = tbl.column("event_id").to_pandas().values
    delivery = ts_us
    if ooo:
        jitter = ((eid.astype("int64") * 2654435761) % (1 << 32)) % (
            CEP_OOO_JITTER_US
        )
        delivery = ts_us + jitter
    order = (
        pd.DataFrame({"ts": delivery, "event_id": eid})
        .sort_values(["ts", "event_id"], kind="mergesort")
        .index
    )
    # typed indices: a bare empty list is null-typed and pyarrow's
    # take kernel rejects (int64, null) on an empty fixture
    tbl = tbl.take(pa.array(order, type=pa.int64()))
    step = (tbl.num_rows + 1) // 2
    parts = [tbl.slice(0, step), tbl.slice(step)]
    if ooo and tbl.num_rows:
        advancer = pa.table(
            {
                "event_id": [-1],
                "ts": pa.array(
                    [int(ts_us.max()) + CEP_OOO_DELAY_US + 1_000_000],
                    pa.timestamp("us"),
                ),
                "user_id": [-1],
                "event_type": ["__advance__"],
                "value": [None],
                "props": [None],
            }
        ).select(tbl.schema.names).cast(tbl.schema)
        parts[1] = pa.concat_tables([parts[1], advancer])
    with tempfile.TemporaryDirectory(
        prefix="mrs_replay_", ignore_cleanup_errors=True
    ) as src:
        # the split files inherit the fixture's ts encoding, so the
        # footer probe reads one of them
        yield _file_stream(spark, src, parts)


@query(
    "stream_tumbling_true",
    oracle="""
WITH wm AS (
    SELECT CAST(floor(epoch_us(MAX(ts)) / 1000) AS BIGINT) - 600000 AS wm_ms
    FROM events
),
agg AS (
    SELECT CAST(floor(epoch(ts) / 120) AS BIGINT) * 120 AS win_start,
           event_type, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
)
SELECT win_start, event_type, n_events FROM agg, wm
WHERE (win_start + 120) * 1000 <= wm_ms
""",
)
def stream_tumbling_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 2-minute tumbling aggregation, executed as a real
    stream. Append-mode semantics: only windows whose end precedes the
    final watermark (max event time − 10 min) are emitted — the
    trailing windows stay open, so the result is the CLOSED SUBSET of
    the batch `stream_tumbling` (tests/test_streaming.py pins exactly
    that relationship).

    That closed subset is itself deterministic over a static fixture,
    so it IS SQL-expressible: the oracle computes the same windows and
    keeps those with window-end ≤ the final watermark. The watermark
    mirrors Spark's clock exactly — event-time stats accumulate in
    MILLIseconds (floor of the microsecond time), minus the 10-minute
    delay. The fixture has no window end exactly ON the watermark, so
    the ≤/< boundary convention cannot flip a row."""
    ev = _read_event_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "2 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"),
            "event_type",
            "n_events",
        )
    )
    return _run_to_memory(agg, spark)


@query(
    "stream_sliding_true",
    oracle=f"""
WITH wm AS (
    SELECT CAST(floor(epoch_us(MAX(ts)) / 1000) AS BIGINT) - 600000 AS wm_ms
    FROM events
),
panes AS (
    SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 AS win_start, value
    FROM events
    UNION ALL
    SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - 300 AS win_start, value
    FROM events
),
agg AS (
    SELECT win_start, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
    FROM panes GROUP BY win_start
)
SELECT win_start, n_events, sum_value FROM agg, wm
WHERE (win_start + 600) * 1000 <= wm_ms
""",
)
def stream_sliding_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 10-minute windows sliding by 5, executed as a real
    stream (every event lands in two panes). Append-mode semantics as
    in stream_tumbling_true: only panes closed by the final watermark
    are emitted — the closed subset of the batch `stream_sliding`
    (pinned in tests/test_streaming.py), which is deterministic and
    carries the full SQL oracle (each event contributes to its two
    panes; panes with end ≤ the ms-floored final watermark survive;
    decimal-exact sums on both sides)."""
    ev = _read_event_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"),
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, spark)


@query(
    "stream_dedup_true",
    oracle="SELECT event_id, user_id, value FROM events",
)
def stream_dedup_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup on event_id within the watermark
    (redundant chunks, reference README.md:18). The fixture's
    event_ids are globally unique, so exactly-once delivery of an
    already-unique stream is the identity projection — which makes the
    live run's output deterministic and fully SQL-oracled (the
    state-store dedup path is still exercised end to end; duplicate
    suppression itself is pinned by the batch twin's DISTINCT oracle
    over a doubled input)."""
    ev = _read_event_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"])
    # each first occurrence is emitted in its data batch
    return _run_to_memory(
        deduped.select("event_id", "user_id", "value"),
        spark,
        emit_on_arrival=True,
    )


@query(
    "stream_session_true",
    oracle="""
WITH wm AS (
    SELECT CAST(floor(epoch_us(MAX(ts)) / 1000) AS BIGINT) - 1800000 AS wm_ms
    FROM events
),
flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN LAG(ts) OVER w IS NULL
                     OR date_diff('microseconds', LAG(ts) OVER w, ts) > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT user_id, ts,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
), sessions AS (
    SELECT user_id,
           epoch_us(MIN(ts)) AS start_us,
           COUNT(*) AS n_events,
           epoch_us(MAX(ts)) + 1800000000 AS end_us
    FROM numbered
    GROUP BY user_id, session_id
)
SELECT user_id, start_us, n_events
FROM sessions, wm
WHERE CAST(floor(end_us / 1000) AS BIGINT) <= wm_ms
""",
)
def stream_session_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (30-minute gap) with watermark
    — the engine-managed form of the batch gaps-and-islands
    (`stream_session`). Only sessions closed by the final watermark are
    emitted in append mode.

    That closed subset is deterministic over a static fixture, so it is
    SQL-expressible like its tumbling/sliding siblings: the oracle
    rebuilds the sessions with gaps-and-islands (STRICT > on the gap —
    empirically pinned: F.session_window MERGES events exactly `gap`
    apart, so only diff > gap starts a new session), sets each
    session's end to last-event + gap exactly as Spark does, and keeps
    sessions whose ms-floored end precedes the ms-floored final
    watermark (max event ms − 30 min). Session ends carry µs precision
    (unlike the second-aligned tumbling panes), so the ≤ boundary is
    checked against the fixture in tests/test_streaming.py."""
    ev = _read_event_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            "n_events",
        )
    )
    return _run_to_memory(agg, spark)


@query(
    "stream_static_join_true",
    oracle="""
SELECT e.event_id, e.user_id, c.c_name, e.value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""",
)
def stream_static_join_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join, executed as a real stream: each
    event micro-batch joins the static customer dimension (the
    standard production pattern for decorating an event stream with
    reference data). Stateless — no watermark, no state store; the
    static side is broadcast per micro-batch, so the stream never
    shuffles. Unlike the windowed jobs, the result is deterministic
    (inner equi-join, no time cutoff), so this live streaming query
    carries a full SQL oracle."""
    ev = _read_event_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    joined = ev.join(
        F.broadcast(cust), ev["user_id"] == cust["c_custkey"]
    ).select("event_id", "user_id", "c_name", "value")
    return _run_to_memory(joined, spark)


@query(
    "stream_stateful_ema",
    oracle="""
SELECT user_id,
       list_reduce(list_prepend(1.0, list(value ORDER BY ts, event_id)),
                   (acc, x) -> acc * 0.9 + x * 0.1) AS ema,
       COUNT(*) AS n_events
FROM events
GROUP BY user_id
""",
)
def stream_stateful_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user EMA carried across
    micro-batches via applyInPandasWithState (the reference's score
    vector, reference neurons/validator.py:110,146: s ← 0.9·s + 0.1·x,
    seeded at 1.0).

    State is one float per user in the state store; each micro-batch
    folds its (ts-sorted) values into the state. With availableNow over
    a static fixture there is one batch, so the result equals the batch
    closed form (pinned against agg_ema in tests/test_streaming.py) —
    and the EMA is deterministic, so the same ordered left-to-right
    double fold IS SQL-expressible: the oracle is agg_ema's
    list_reduce recurrence (identical seed, coefficients, sort key and
    fold order → bit-identical). The emitted ema is deliberately
    UNROUNDED: identical IEEE op sequences are bit-exact across
    engines, while rounding itself diverges on decimal ties (Python
    round is half-even, DuckDB ROUND half-away, Spark F.round HALF_UP
    on the shortest repr).
    """
    ev = _read_event_stream(spark, sf_dir)
    return _run_to_memory(stateful_ema(ev), spark, output_mode="update")


def stateful_ema(ev: DataFrame) -> DataFrame:
    """Apply the per-user EMA state fold to an event stream — exposed
    module-level so tests can drive it over a MULTI-micro-batch source
    (maxFilesPerTrigger=1 over time-split files) and prove the state
    actually carries across batches, the reference's cross-round
    semantics (neurons/validator.py:146). Within one micro-batch the
    group's rows fold in (ts, event_id) order; across batches the
    state store carries (ema, n) forward, so each user's emitted row
    per batch is the running fold so far."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fold_ema(key, pdf_iter, state):
        # closure: shipped by value; executors don't import this repo
        import pandas as pd  # local import for the worker

        s, n = state.get if state.exists else (1.0, 0)
        rows = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
        # literal 0.1, NOT (1.0 - 0.9): the latter is 0.09999999999999998
        # in doubles — a different coefficient than the oracle's 0.1
        # literal, which can flip the 6th rounded decimal on long folds
        for v in rows["value"]:
            s = s * 0.9 + float(v) * 0.1
        n += len(rows)
        state.update((s, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "ema": [s], "n_events": [n]}
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        fold_ema,
        outputStructType="user_id LONG, ema DOUBLE, n_events LONG",
        stateStructType="ema DOUBLE, n LONG",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "stream_stateful_ema_batches",
    oracle="""
SELECT user_id,
       list_reduce(list_prepend(1.0, list(value ORDER BY ts, event_id)),
                   (acc, x) -> acc * 0.9 + x * 0.1) AS ema,
       COUNT(*) AS n_events
FROM events
GROUP BY user_id
""",
)
def stream_stateful_ema_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-micro-batch form of stream_stateful_ema — the
    reference's cross-round state (neurons/validator.py:146) as a
    driver-checked query: the fixture replays as 2 time-contiguous
    micro-batches (:func:`_replay`), so each user's EMA state MUST
    survive in the state store between triggers to produce the right
    answer. The final per-user row (max n_events across the per-batch
    update-mode emissions) equals the same closed-form oracle as the
    single-batch job — bit-exact, because the time-contiguous split
    preserves the global (ts, event_id) fold order. The 4-batch shape
    stays pinned by tests/test_streaming.py::
    test_stateful_ema_state_carries_across_micro_batches.

    State handling is the real path — RocksDB-backed on a cluster,
    partitioned by user."""
    with _replay(spark, sf_dir) as ev:
        sink = _run_to_memory(stateful_ema(ev), spark, output_mode="update")
    # final state per user: the update-mode emission with the largest
    # n_events (n is strictly increasing per user)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "ema", "n_events")
    )


@query(
    "stream_stream_join_true",
    oracle="""
SELECT p.event_id AS p_event_id, c.event_id AS c_event_id, p.user_id
FROM events p JOIN events c
  ON p.user_id = c.user_id
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
""",
)
def stream_stream_join_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True stream-stream join: the purchase stream joined to the
    click stream on user with a 1-hour time-range condition (each
    purchase pairs with the clicks at-or-before it within the hour) —
    the engine-managed form of the batch join_theta_range family, and
    the missing fourth leg of the streaming story next to
    stream-static enrichment (stream_static_join_true).

    Both sides carry watermarks and the join condition bounds event
    time on both sides, so the state store can evict rows once the
    other side's watermark passes them — the requirement for unbounded
    streams. Over the static fixture's single availableNow micro-batch
    every row is present before any watermark advances (the watermark
    moves only BETWEEN micro-batches), so no state is evicted and the
    emitted inner-join matches are exactly the deterministic batch
    result — which is why this live streaming query carries a full
    SQL oracle.

    Scale shape: the join keys on user_id, so both sides shuffle once
    to co-partition; per-key state holds only the 1-hour window either
    side's watermark still allows. No cross join, no global state.
    """
    purchases = (
        _read_event_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    clicks = (
        _read_event_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_event_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("p_event_id", "c_event_id", "user_id")
    # an inner join emits every match in the data batch that
    # completes it
    return _run_to_memory(joined, spark, emit_on_arrival=True)


def upsert_latest_merge(old: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """The per-batch latest-wins MERGE used by stream_upsert_foreachbatch,
    module-level so its foreachBatch REPLAY idempotency is directly
    testable: foreachBatch can redeliver a batch id
    after a failure, and exactly-once state requires
    merge(merge(S, B), B) == merge(S, B).

    That holds here by algebra — the winner per user is the max
    (last_ts_us, last_event_id) row, and re-offering rows already in
    the state cannot change an argmax; the tie the replay creates
    (identical winner row on both sides) carries identical values in
    every column, so whichever copy row_number keeps, the RESULT is
    identical. tests/test_streaming.py pins this mechanically.

    Both inputs are one-row-per-user after their own ranking passes, so
    the merge shuffles |users| rows, never event volume; NULL user_id
    is one group under the window partitioning (NOTES invariant #11 —
    no join is involved, so no null-key hazard)."""
    w = Window.partitionBy("user_id").orderBy(
        F.desc("last_ts_us"), F.desc("last_event_id")
    )
    delta = (
        batch_df.select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("last_ts_us"),
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    if old is not None:
        delta = (
            old.unionByName(delta)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
    return delta


@query(
    "stream_upsert_foreachbatch",
    oracle="""
WITH ranked AS (
    SELECT user_id,
           epoch_us(ts) AS last_ts_us,
           event_id AS last_event_id,
           value AS last_value,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT user_id, last_ts_us, last_event_id, last_value
FROM ranked
WHERE rn = 1
""",
)
def stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental UPSERT sink via foreachBatch: the event stream
    arrives as 2 real micro-batches (:func:`_replay`; latest-wins
    merges are associative, so the final table is split-invariant and
    two triggers is the minimum that still proves cross-batch MERGE)
    and each batch MERGES its per-user latest row into a keyed parquet
    state table — latest (ts, event_id) wins. This is the production
    "stream → serving table" pattern (foreachBatch + MERGE) that
    memory/append sinks can't express, and the streaming twin of the
    batch merge_upsert operator; the reference's validator holds
    exactly this latest-state-per-peer table across rounds (reference
    neurons/validator.py:166-170).

    Mechanics: each batch reduces to one row per user BEFORE the merge
    (batch-local row_number), then the merge re-ranks
    old-state ∪ batch-delta — both sides already one-row-per-user, so
    the merge input is bounded by |users|, never by event volume. The
    state table is versioned and swapped by :func:`_fold_batches`.
    The final table equals the global per-user argmax — the SQL
    oracle — regardless of how events are split across batches,
    because per-key latest-wins merges are associative."""
    with _replay(spark, sf_dir) as ev, tempfile.TemporaryDirectory(
        prefix="mrs_upsert_", ignore_cleanup_errors=True
    ) as root:
        return _fold_batches(
            ev,
            spark,
            root,
            "user_id LONG, last_ts_us LONG, last_event_id LONG, "
            "last_value DOUBLE",
            upsert_latest_merge,
        ).localCheckpoint(eager=True)


def _synthetic_events(spark: SparkSession) -> DataFrame:
    """The synthetic Python stream source
    (sources/pydatasource.py::SyntheticEventsStreamDataSource),
    registered on ``spark`` and read in two offset-bounded micro-batches
    of ``SYNTH_STREAM_TOTAL // 2`` rows. The module ships by value: the
    Python workers do not import this repo."""
    from pyspark import cloudpickle as _cp

    from map_reduce_subnet_spark.sources import pydatasource as pds

    _cp.register_pickle_by_value(pds)
    spark.dataSource.register(pds.SyntheticEventsStreamDataSource)
    return (
        spark.readStream.format("synthetic_events")
        .option("batch", str(pds.SYNTH_STREAM_TOTAL // 2))
        .load()
    )


@query(
    "stream_python_source_true",
    oracle=f"""
WITH synth AS (
    SELECT i AS event_id,
           ['en', 'fr', 'de', 'es'][(i % 4) + 1] AS lang,
           CAST((((i % 2147483648) * 2654435761) % 2147483648) % 1000
                AS DOUBLE) AS value
    FROM (SELECT unnest(range(0, 5000)) AS i)
)
SELECT lang, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM synth
GROUP BY lang
""",
)
def stream_python_source_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL custom Python micro-batch STREAMING source
    (sources/pydatasource.py::SyntheticEventsStreamDataSource, Spark
    4's SimpleDataSourceStreamReader): 5000 deterministic events
    arrive over 2 micro-batches of ≤2500 rows (offset-bounded reads),
    aggregated per lang in complete mode — proving offset planning,
    cross-micro-batch aggregation state, and replayable offsets on a
    user-defined source that is not a file or a Kafka topic
    (``sf_dir`` unused: the source IS the data). The row program is
    pinned integer arithmetic, so the DuckDB oracle regenerates the
    whole stream from range(); counts are exact and the sum is
    decimal-stabilized, so the batched arrival order cannot move the
    result. Each process_all trigger pays planning + a Python source
    read + a state commit and the complete-mode aggregate is
    arrival-split-invariant, so the bounded range drains in the
    minimum TWO offset-bounded batches; the 4-batch offset walk stays
    pinned by tests/test_streaming.py::
    test_python_stream_source_spans_micro_batches."""
    agg = _synthetic_events(spark).groupBy("lang").agg(
        F.count("*").alias("n_events"), dsum("value", "sum_value")
    )
    return _run_to_memory(agg, spark, output_mode="complete", drain="process_all")


@query(
    "stream_state_inspect",
    oracle="""
SELECT event_type, COUNT(*) AS n_events
FROM events
GROUP BY event_type
""",
)
def stream_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational STATE-STORE inspection (Spark 4's state data
    source): a complete-mode streaming aggregation drains over a REAL
    checkpoint, then ``spark.read.format("statestore")`` reads the
    aggregation's state store itself as a batch table — key struct,
    value buffer, store partition — the tool an operator reaches for
    when a production stream's state looks wrong (skewed keys, stale
    entries, unexpected cardinality). After a full drain the state of
    a complete aggregation IS the whole-fixture aggregate, which is
    exactly what the oracle checks — so this query differentially
    verifies Spark's own state persistence round-trip, not just the
    sink output.

    The aggregation drains into a ``noop`` sink (only its checkpoint
    is read), and the state rows are materialized BEFORE the scratch
    checkpoint is deleted (the statestore scan reads lazily from those
    files)."""
    with tempfile.TemporaryDirectory(
        prefix="mrs_ssro_", ignore_cleanup_errors=True
    ) as ckpt:
        agg = _read_event_stream(spark, sf_dir).groupBy("event_type").count()
        _drain(
            agg.writeStream.format("noop")
            .outputMode("complete")
            .option("checkpointLocation", ckpt),
            spark,
        )
        return (
            spark.read.format("statestore")
            .load(ckpt)
            .select(
                F.col("key.event_type").alias("event_type"),
                F.col("value.count").alias("n_events"),
            )
            .localCheckpoint(eager=True)
        )


@query(
    "stream_python_sink_true",
    oracle=f"""
WITH synth AS (
    SELECT i AS event_id,
           ['en', 'fr', 'de', 'es'][(i % 4) + 1] AS lang,
           CAST((((i % 2147483648) * 2654435761) % 2147483648) % 1000
                AS DOUBLE) AS value
    FROM (SELECT unnest(range(0, 5000)) AS i)
)
SELECT lang, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM synth
GROUP BY lang
""",
)
def stream_python_sink_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CUSTOM connector pipeline: the Python micro-batch
    SOURCE streams into the Python streaming SINK
    (sources/pydatasource.py::JsonLinesStreamSinkDataSource) — the
    fourth quadrant of the connector matrix (batch read/write, stream
    read, and now stream WRITE). Each micro-batch's tasks append
    per-task part files; the per-batch driver-side commit() appends
    the batch's file list to a _commits log, so only files named by a
    COMMITTED batch are read back (a replayed batch's orphan files
    are invisible) — the sink-side exactly-once discipline. The
    read-back aggregate must equal the full generated range, which is
    what the oracle regenerates (``sf_dir`` unused: the source IS
    the data)."""
    import json as _json

    from map_reduce_subnet_spark.sources import pydatasource as pds

    ev = _synthetic_events(spark)
    spark.dataSource.register(pds.JsonLinesStreamSinkDataSource)
    with tempfile.TemporaryDirectory(
        prefix="mrs_pystreamsink_", ignore_cleanup_errors=True
    ) as out:
        # 2 micro-batches (stream_python_source_true's rationale) — the
        # sink's per-batch commit-log discipline needs >= 2 committed
        # batches to be exercised, which 2 still provides.
        _drain(
            ev.writeStream.format("jsonl_stream_sink")
            .option("path", out)
            .option("checkpointLocation", os.path.join(out, "_ckpt")),
            spark,
            drain="process_all",
        )
        commits_file = os.path.join(out, "_commits")
        if not os.path.exists(commits_file):
            raise RuntimeError(
                "jsonl_stream_sink commit contract broken: no _commits log"
            )
        with open(commits_file) as f:
            commits = [_json.loads(line) for line in f if line.strip()]
        # The sink's commit() appends unconditionally, so a batch
        # replayed after a crash between the log append and the
        # checkpoint commit would write a SECOND line for the same
        # batch id. At-most-once read-back therefore keeps only the
        # LAST line per batch id (the replay's file list supersedes
        # the orphaned first attempt's).
        by_batch: dict[int, list[str]] = {}
        for c in commits:
            by_batch[c["batch"]] = c["files"]
        files = [fn for b in sorted(by_batch) for fn in by_batch[b]]
        back = spark.read.schema(
            "event_id long, lang string, value double"
        ).json(files)
        return (
            back.groupBy("lang")
            .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
            .localCheckpoint(eager=True)
        )


@query(
    "stream_dedup_within_watermark_true",
    oracle="""
SELECT event_id, event_type, value
FROM events
""",
)
def stream_dedup_within_watermark_true(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dropDuplicatesWithinWatermark — the BOUNDED-STATE streaming
    dedup: unlike dropDuplicates (state grows with distinct keys
    forever unless the event-time column is part of the key), this
    operator evicts a key's state once the watermark passes its first
    sighting plus the delay, so state is O(keys per watermark window)
    — the only dedup that survives an unbounded stream whose key
    space itself is unbounded. On the static fixture every event_id
    is unique (NOTES invariant #9), so the deduped stream is the
    identity relation and carries a full SQL oracle — what's under
    differential test is that eviction never drops a LIVE key."""
    ev = _read_event_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    # each first occurrence is emitted in its data batch
    return _run_to_memory(
        deduped.select("event_id", "event_type", "value"),
        spark,
        emit_on_arrival=True,
    )


@query(
    "stream_tumbling_distinct_true",
    oracle="""
SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS win_start,
       COUNT(DISTINCT user_id) AS n_users_exact,
       TRUE AS approx_ok
FROM events
GROUP BY 1
""",
)
def stream_tumbling_distinct_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DISTINCT-count: hourly unique users computed as a
    real stream with the mergeable HLL sketch — the form that
    survives unbounded key spaces where a streaming COUNT(DISTINCT)
    would hold every key in state forever (sketch state is constant
    per window). Complete-mode snapshot over the drained stream, so
    every window is emitted and the result is deterministic on the
    static fixture.

    BOUND-CHECKED oracle (the sketch discipline applied to
    STREAMING): the batch side recomputes each window's exact
    distinct count (the anchor the oracle reproduces) and the stream
    side's sketch estimate must sit within max(3, 5%·exact) —
    pinned TRUE by the oracle, so a sketch drifting out of bounds in
    the streaming engine fails the driver hash exactly like its
    batch sibling agg_approx_distinct."""
    ev = _read_event_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", 0.01).alias("n_approx"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"),
            "n_approx",
        )
    )
    snap = _run_to_memory(agg, spark, output_mode="complete")
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            (F.floor(F.unix_timestamp(F.col("ts")) / 3600) * 3600)
            .cast("long")
            .alias("win_start")
        )
        .agg(F.countDistinct("user_id").alias("n_users_exact"))
    )
    tol = F.greatest(F.lit(3.0), F.col("n_users_exact") * 0.05)
    return exact.join(snap, "win_start").select(
        "win_start",
        "n_users_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_users_exact")).cast("double")
            <= tol
        ).alias("approx_ok"),
    )


@query("stream_pit_join_true", oracle=_PIT_ORACLE)
def stream_pit_join_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING point-in-time enrichment, executed as a real stream:
    each purchase micro-batch joins the STATIC SCD2 state history on
    user_id with the validity-interval residual — the online half of
    join_point_in_time, and exactly how a feature store serves
    training-consistent features to a live scorer (the offline PIT
    join and this online path must agree row-for-row, which is what
    sharing the SAME SQL oracle proves). Stateless stream-static
    LEFT join: no watermark, no state store, deterministic output —
    so this live job carries the full batch oracle.

    Scale shape: the stream never shuffles (the static side hashes
    per batch); the interval predicate rides the join as a residual
    filter. The history frame here derives from the same fixture scan
    per micro-batch — a deployment materializes it (the
    _signatures_cached discipline) and broadcast-refreshes on a
    cadence, which changes freshness, not semantics."""
    ev_static = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("h_user").orderBy("ts", "state_event_id")
    hist = (
        ev_static.where(F.col("event_type") != "purchase")
        .select(
            F.col("user_id").alias("h_user"),
            F.col("event_id").alias("state_event_id"),
            F.col("value").alias("state_value"),
            F.unix_micros(F.col("ts")).alias("valid_from_us"),
            "ts",
        )
        .withColumn("valid_to_us", F.lead("valid_from_us").over(w))
        .drop("ts")
    )
    probes = (
        _read_event_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("probe_event_id"),
            F.unix_micros(F.col("ts")).alias("probe_ts_us"),
        )
    )
    joined = probes.join(
        hist,
        (probes["user_id"] == hist["h_user"])
        & (F.col("valid_from_us") <= F.col("probe_ts_us"))
        & (
            F.col("valid_to_us").isNull()
            | (F.col("probe_ts_us") < F.col("valid_to_us"))
        ),
        "left",
    ).select(
        "probe_event_id",
        "user_id",
        "probe_ts_us",
        "state_event_id",
        "state_value",
        F.col("state_event_id").isNotNull().alias("has_state"),
    )
    return _run_to_memory(joined, spark)


@query("stream_mv_refresh_true", oracle=_MV_FULL_ORACLE)
def stream_mv_refresh_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental materialized-view maintenance — the
    online half of mv_incremental_refresh, as stream_pit_join_true is
    to join_point_in_time: successive CHANGE FEEDS of
    the versioned latest-state table (v1→v2, then v2→v3 — each a real
    CDC frame from VersionedTable.changes with pre-images) arrive as
    separate micro-batches of a file stream, and a foreachBatch
    consumer rolls the per-bucket aggregate MV forward by applying
    ONLY each batch's delta — inserts add, deletes retract the
    pre-image, updates do both. The MV was built ONCE at v1; no batch
    ever re-reads the base table. Sharing mv_incremental_refresh's
    full-recompute oracle proves offline roll-forward, online
    streaming roll-forward, and from-scratch recompute all land on
    the IDENTICAL v3 aggregate — the agreement that makes IVM
    trustworthy as a serving path.

    Exactness: the MV state keeps DECIMAL(27,6) sums through every
    batch (exact integer arithmetic ⇒ delta application is
    associative AND commutative), so the result is independent of how
    the feed is split into micro-batches — the property that lets a
    deployment consume the feed at any cadence. Cast to double only
    at the edge.

    Scale shape: each micro-batch touches O(changed keys) rows plus
    one tiny agg on the MV's bucket key — refresh cost tracks the
    DELTA, not the base table; the MV state swaps via the same
    versioned table (:func:`_fold_batches`) as
    stream_upsert_foreachbatch (reference neurons/validator.py:146-163
    — the running score state maintained incrementally per round).
    """
    from map_reduce_subnet_spark.functions.stable import (
        SUM_DECIMAL,
        _finite,
    )
    from map_reduce_subnet_spark.operators.warehouse import (
        _build_latest_state_versions,
    )

    bucket = (F.col("user_id") % 16).cast("long").alias("bucket")
    mv_schema = "bucket long, n_users long, s decimal(27,6)"

    def apply_feed(mv, batch_df):
        # Delta algebra = mv_incremental_refresh's — including the
        # _finite guard: a NaN/Inf new- or pre-image value contributes
        # 0, matching the oracle's ISFINITE drop.
        zero = F.lit(0).cast(SUM_DECIMAL)
        delta = (
            batch_df.select(
                bucket,
                F.when(F.col("_change_type") == "insert", F.lit(1))
                .when(F.col("_change_type") == "delete", F.lit(-1))
                .otherwise(F.lit(0))
                .alias("dn"),
                (
                    F.when(
                        F.col("_change_type") != "delete",
                        F.coalesce(
                            _finite(F.col("value")).cast(SUM_DECIMAL),
                            zero,
                        ),
                    ).otherwise(zero)
                    - F.when(
                        F.col("_change_type") != "insert",
                        F.coalesce(
                            _finite(F.col("value_prev")).cast(SUM_DECIMAL),
                            zero,
                        ),
                    ).otherwise(zero)
                ).alias("ds"),
            )
            .groupBy("bucket")
            .agg(F.sum("dn").alias("dn"), F.sum("ds").alias("ds"))
        )
        # eqNullSafe like the batch MV (warehouse.py): a NULL bucket
        # must MERGE across batches, not duplicate per feed
        return (
            mv.alias("m")
            .join(
                delta.alias("d"),
                F.col("m.bucket").eqNullSafe(F.col("d.bucket")),
                "full_outer",
            )
            .select(
                F.coalesce(F.col("m.bucket"), F.col("d.bucket")).alias(
                    "bucket"
                ),
                (
                    F.coalesce("n_users", F.lit(0))
                    + F.coalesce("dn", F.lit(0))
                ).cast("long").alias("n_users"),
                (
                    F.coalesce(F.col("s"), zero)
                    + F.coalesce(F.col("ds").cast(SUM_DECIMAL), zero)
                ).cast(SUM_DECIMAL).alias("s"),
            )
        )

    with tempfile.TemporaryDirectory(
        prefix="mrs_smv_", ignore_cleanup_errors=True
    ) as root:
        table = _build_latest_state_versions(
            spark, sf_dir, os.path.join(root, "table")
        )
        # MV built once, at v1 — _finite + coalesce-to-zero exactly
        # like the batch MV's v1 build (warehouse.py): non-finite
        # latest values are dropped from the sum, and an
        # all-non-finite bucket starts at decimal 0, not NULL, so
        # the rolled-forward state and the guarded full-recompute
        # oracle agree on the edge.
        mv1_dir = os.path.join(root, "mv_v0")
        (
            table.read(spark, 1)
            .groupBy(bucket)
            .agg(
                F.count("*").cast("long").alias("n_users"),
                F.coalesce(
                    F.sum(_finite(F.col("value")).cast(SUM_DECIMAL)),
                    F.lit(0).cast(SUM_DECIMAL),
                )
                .cast(SUM_DECIMAL)
                .alias("s"),
            )
            .write.parquet(mv1_dir)
        )
        # the two successive change feeds become the stream's files,
        # one micro-batch per feed, v1→v2 first
        feeds = [
            table.changes(spark, ["user_id"], vf, vt, include_preimage=True)
            for vf, vt in [(1, 2), (2, 3)]
        ]
        stream = _file_stream(
            spark,
            os.path.join(root, "feeds"),
            [feed.toArrow() for feed in feeds],
            feeds[0].schema,
        )
        return (
            _fold_batches(stream, spark, root, mv_schema, apply_feed, mv1_dir)
            .where(F.col("n_users") > 0)
            .select(
                "bucket",
                "n_users",
                F.col("s").cast("double").alias("sum_value"),
            )
            .localCheckpoint(eager=True)
        )


def cep_stream(ev: DataFrame, pattern: str, ooo: bool) -> DataFrame:
    """Live CEP over an event stream: per user, the stage sequence
    CEP_STAGES (view → click → purchase) matched over the events in
    (ts_us, event_id) order — the applyInPandasWithState twin of
    operators/streaming_batch.py's events_cep_pattern
    (``pattern="contiguous"``) and events_cep_gapped
    (``pattern="gapped"``). APPEND output: a match is emitted exactly
    once, when its closing event is SEALED (fed to the matcher); a
    batch with no completed match emits nothing for that user. Exposed
    module-level so tests can drive it over multi-batch sources.

    One grouped-state step holds a reorder buffer and feeds its sealed
    events to one of two matchers:

    * ``ooo=False`` (in order): every arrival is sealed at once, in
      (ts_us, event_id) order within its micro-batch, and the matcher
      evicts against the batch's newest ts. No watermark, no timeout.
      ARRIVAL-ORDER PRECONDITION: per-user event time must be monotone
      ACROSS triggers. An event older than one already sealed is
      sealed as if newest, which can fabricate or miss matches. The
      time-contiguous replay satisfies this by construction; a
      deployment feeds from a source ordered per key, or uses OOO mode.
    * ``ooo=True`` (out of order): the watermark delay is
      CEP_OOO_DELAY_US. Arrivals at or below the current watermark are
      DROPPED (the watermark contract); the rest are buffered, and the
      buffered prefix with ts <= watermark is sealed — every future
      arrival has ts > watermark, so the sealed order is final and the
      matches equal the batch twin's whatever the delivery order. The
      matcher evicts against the watermark. FLUSH: groups are only
      invoked on data, so while the buffer is non-empty an
      EventTimeTimeout is registered at its oldest ts; the watermark
      passing it re-invokes the group with no data, including in the
      no-data batch after the last file. The buffer costs the user's
      event rate × CEP_OOO_DELAY_US raw events.

    Matchers, each with its own state and output columns:

    * contiguous: the last two events (type, ts, id). A sealed event
      closes a match iff (prev2, prev1, it) equals the stage sequence
      and anchor→close is within CEP_SPAN_US. O(1) per user, never
      evicted.
    * gapped (skip-till-next): a view is buffered; a click is THE
      first following click of every buffered view — views within
      CEP_GAP_US become open pairs, the rest die, the view buffer
      clears; a purchase is THE first following purchase of every open
      pair — pairs within CEP_GAP_US emit, the rest die, the pairs
      clear. Views and pairs whose gap window has passed the eviction
      horizon are dropped, so state is bounded by the user's event
      rate × CEP_GAP_US: the price of dropping adjacency.

    A group's state is removed once its buffer and matcher hold
    nothing. Epoch microseconds are computed IN-PLAN (unix_micros),
    never from worker-side pandas timestamps: Arrow renders TIMESTAMP
    through the session time zone, so a pandas int64 cast is
    epoch-correct only under UTC. Spark starts the watermark at epoch
    0, so OOO mode drops pre-1970 events as late at stream start; in
    order mode has no watermark and keeps them."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    view, click, purchase = stages = tuple(CEP_STAGES)

    def columns(rows, n):
        return [[r[i] for r in rows] for i in range(n)]

    if pattern == "contiguous":
        bound = int(CEP_SPAN_US)
        fields = "t1 STRING, t2 STRING, ts1 LONG, ts2 LONG, id1 LONG, id2 LONG"
        out_schema = (
            "user_id LONG, anchor_event_id LONG, close_event_id LONG, "
            "anchor_ts_us LONG, span_us LONG"
        )

        def load(s):
            return list(s) if s else [None, None, -1, -1, -1, -1]

        def step(m, uid, ts, eid, t, out):
            t1, t2, ts1, ts2, id1, id2 = m
            if (t1, t2, t) == stages and ts - ts1 <= bound:
                out.append((uid, id1, eid, ts1, ts - ts1))
            m[:] = [t2, t, ts2, ts, id2, eid]

        def evict(m, horizon):
            return m

        def dump(m):
            return tuple(m)

    elif pattern == "gapped":
        bound = int(CEP_GAP_US)
        fields = (
            "vts ARRAY<LONG>, vid ARRAY<LONG>, pvts ARRAY<LONG>, "
            "pvid ARRAY<LONG>, pcts ARRAY<LONG>, pcid ARRAY<LONG>"
        )
        out_schema = (
            "user_id LONG, anchor_event_id LONG, mid_event_id LONG, "
            "close_event_id LONG, anchor_ts_us LONG, span_us LONG"
        )

        def load(s):
            if not s:
                return [[], []]
            vts, vid, pvts, pvid, pcts, pcid = s
            return [list(zip(vts, vid)), list(zip(pvts, pvid, pcts, pcid))]

        def step(m, uid, ts, eid, t, out):
            views, pairs = m
            if t == view:
                views.append((ts, eid))
            elif t == click:
                pairs.extend(
                    (v_ts, v_id, ts, eid)
                    for v_ts, v_id in views
                    if ts - v_ts <= bound
                )
                views.clear()
            elif t == purchase:
                out.extend(
                    (uid, v_id, c_id, eid, v_ts, ts - v_ts)
                    for v_ts, v_id, c_ts, c_id in pairs
                    if ts - c_ts <= bound
                )
                pairs.clear()

        def evict(m, horizon):
            views, pairs = m
            return [
                [v for v in views if horizon - v[0] <= bound],
                [p for p in pairs if horizon - p[2] <= bound],
            ]

        def dump(m):
            return (*columns(m[0], 2), *columns(m[1], 4))

    else:
        raise ValueError(f"unknown CEP pattern {pattern!r}")

    blank = dump(load(None))
    n_buf = 3 if ooo else 0  # reorder-buffer columns: ts, id, type
    out_cols = [c.split()[0] for c in out_schema.split(", ")]

    def run(key, pdf_iter, state):
        # closure: shipped by value; executors don't import this repo
        import pandas as pd

        s = state.get if state.exists else None
        buf = list(zip(*s[:n_buf])) if s else []
        m = load(s[n_buf:] if s else None)
        arrivals = [
            (int(ts), int(eid), t)
            for rows in pdf_iter
            for t, ts, eid in zip(
                rows["event_type"], rows["ts_us"], rows["event_id"]
            )
        ]
        if ooo:
            wm_ms = state.getCurrentWatermarkMs()
            horizon = wm_ms * 1000  # µs
            arrivals = [r for r in arrivals if r[0] > horizon]
        buf = sorted(buf + arrivals, key=lambda r: (r[0], r[1]))
        if not ooo:
            horizon = buf[-1][0]
        n_sealed = sum(r[0] <= horizon for r in buf)  # a sorted prefix
        out = []
        for ts, eid, t in buf[:n_sealed]:
            step(m, key[0], ts, eid, t, out)
        buf = buf[n_sealed:]
        m = evict(m, horizon)
        if not buf and dump(m) == blank:
            state.remove()
        else:
            state.update((*columns(buf, n_buf), *dump(m)))
            if buf:
                # the timeout must exceed the current watermark
                oldest_ms = -(-buf[0][0] // 1000)  # ceil to ms
                state.setTimeoutTimestamp(max(oldest_ms, wm_ms + 1))
        yield pd.DataFrame(out, columns=out_cols)

    if ooo:
        ev = ev.withWatermark("ts", "1 hour")  # = CEP_OOO_DELAY_US
    ev = ev.withColumn("ts_us", F.unix_micros(F.col("ts")))
    buffer_fields = "rts ARRAY<LONG>, rid ARRAY<LONG>, rtp ARRAY<STRING>, "
    return ev.groupBy("user_id").applyInPandasWithState(
        run,
        outputStructType=out_schema,
        stateStructType=(buffer_fields if ooo else "") + fields,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if ooo
            else GroupStateTimeout.NoTimeout
        ),
    )


@query("stream_cep_true", oracle=CEP_ORACLE)
def stream_cep_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE contiguous CEP, the state-store twin of events_cep_pattern,
    over the 2-trigger time-contiguous replay: a pattern straddling the
    file boundary is found only if the last-two-events state survives
    between triggers. Each match is emitted once, when its closing
    event arrives, so the union of the batches equals the batch twin's
    answer and ONE oracle (CEP_ORACLE) certifies both keys. The
    boundary straddle is pinned by tests/test_streaming.py::
    test_cep_state_carries_partial_match_across_batches.

    Grounding: ordered request/response step sequences per peer carried
    across rounds (reference neurons/miner.py:151-169, validator.py:146)."""
    with _replay(spark, sf_dir) as ev:
        return _run_to_memory(cep_stream(ev, "contiguous", ooo=False), spark)


@query("stream_cep_gapped_true", oracle=CEP_GAPPED_ORACLE)
def stream_cep_gapped_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE gapped CEP, the state-store twin of events_cep_gapped, over
    the 2-trigger time-contiguous replay: a match whose stages straddle
    the boundary is found only if the buffered views and open pairs
    survive between triggers. CEP_GAPPED_ORACLE certifies both keys; the
    three-batch straddle is pinned by tests/test_streaming.py::
    test_cep_gapped_state_buffers_across_batches."""
    with _replay(spark, sf_dir) as ev:
        return _run_to_memory(cep_stream(ev, "gapped", ooo=False), spark)


@query("stream_cep_gapped_ooo", oracle=CEP_GAPPED_ORACLE)
def stream_cep_gapped_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE gapped CEP over an OUT-OF-ORDER delivery: the fixture is
    replayed with each event displaced by a bounded jitter (< the
    reorder window) in 2 files plus the in-file watermark advancer, so
    the stages of one match routinely arrive out of sequence and across
    the trigger boundary. The reorder buffer seals events in event-time
    order, so the emitted set equals the in-order twins' and
    CEP_GAPPED_ORACLE certifies all three keys without any
    arrival-order precondition."""
    with _replay(spark, sf_dir, ooo=True) as ev:
        return _run_to_memory(cep_stream(ev, "gapped", ooo=True), spark)


@query("stream_cep_ooo", oracle=CEP_ORACLE)
def stream_cep_ooo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE contiguous CEP over the OUT-OF-ORDER delivery of
    stream_cep_gapped_ooo. Contiguous matching is the more
    order-sensitive one: an interloper sealed as if newest decides
    adjacency, so folding arrivals in delivery order would fabricate
    matches (pinned by test). CEP_ORACLE certifies all three contiguous
    keys."""
    with _replay(spark, sf_dir, ooo=True) as ev:
        return _run_to_memory(cep_stream(ev, "contiguous", ooo=True), spark)
