"""Custom Python data source (pyspark.sql.datasource, Spark 4.x).

The reference ingests records from a network protocol the engine does
not natively speak (bittensor synapses, reference neurons/miner.py:
68-84); the Spark-native generalization is a USER-DEFINED SOURCE: a
``DataSource`` subclass registered on the session, read with
``spark.read.format(...)`` like any built-in, planned with real input
partitions so the scan parallelizes across executors.

This one is a deterministic synthetic document-catalog source: every
cell derives from the row id by pinned integer arithmetic, so an
ANSI-SQL twin regenerates the identical relation from ``range()`` —
the custom source is fully differentially checkable against DuckDB
even though Spark itself never touches a file.

Scale shape: ``partitions()`` declares P independent input splits;
each executor's ``read()`` streams its stride lazily (a generator —
no per-partition materialization), so the source behaves like any
partitioned scan: O(rows/P) per task, no driver bottleneck, no
shuffle. A real connector (REST pages, message-queue offsets, custom
binary format) swaps the generator body and keeps the exact same
planning surface.
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

SYNTH_LANGS = ("en", "fr", "de", "es")
SYNTH_KNUTH = 2654435761  # Knuth multiplicative constant, < 2^32
SYNTH_M31 = 2147483648  # 2^31

# Defaults — shared verbatim with the oracle SQL in operators/scans.py.
SYNTH_N_ROWS = 10000
SYNTH_N_PARTS = 8


def synth_doc_row(i: int) -> tuple:
    """Row ``i`` of the synthetic catalog. (i % 2^31) * KNUTH < 2^63,
    so the arithmetic is overflow-free in signed 64-bit on both
    engines — the same discipline as the MinHash affine family."""
    h = ((i % SYNTH_M31) * SYNTH_KNUTH) % SYNTH_M31
    return (i, SYNTH_LANGS[i % len(SYNTH_LANGS)], 100 + h % 900)


class SyntheticDocsReader(DataSourceReader):
    """Strided partition reader: partition p yields rows p, p+P,
    p+2P, ... — balanced splits without the driver enumerating row
    ranges."""

    def __init__(self, options: dict):
        self.n_rows = int(options.get("n_rows", SYNTH_N_ROWS))
        self.n_parts = int(options.get("n_parts", SYNTH_N_PARTS))

    def partitions(self):
        return [InputPartition(p) for p in range(self.n_parts)]

    def read(self, partition: InputPartition):
        for i in range(partition.value, self.n_rows, self.n_parts):
            yield synth_doc_row(i)


class SyntheticDocsDataSource(DataSource):
    """``spark.read.format("synthetic_docs")`` after registration."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_docs"

    def schema(self) -> str:
        return "doc_id bigint, lang string, n_chars bigint"

    def reader(self, schema) -> SyntheticDocsReader:
        return SyntheticDocsReader(self.options)


# ---------------------------------------------------------------------------
# Streaming variant: a REAL custom Python micro-batch source
# ---------------------------------------------------------------------------

SYNTH_STREAM_TOTAL = 5000
SYNTH_STREAM_BATCH = 1250


def synth_event_row(i: int) -> tuple:
    """Event ``i`` of the bounded synthetic stream — same pinned
    arithmetic discipline as synth_doc_row (overflow-free int64)."""
    h = ((i % SYNTH_M31) * SYNTH_KNUTH) % SYNTH_M31
    return (i, SYNTH_LANGS[i % len(SYNTH_LANGS)], float(h % 1000))


class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch offsets over a bounded row range: each read()
    advances the offset by at most SYNTH_STREAM_BATCH rows, so the
    stream genuinely spans multiple micro-batches; once the range is
    exhausted read() returns an empty batch at a fixed offset, which
    is how processAllAvailable() observes completion. Offsets are
    plain dicts (JSON-checkpointable), and readBetweenOffsets replays
    any committed range deterministically — the replayability contract
    a recovering stream depends on."""

    def __init__(self, options: dict):
        self.total = int(options.get("total", SYNTH_STREAM_TOTAL))
        self.batch = int(options.get("batch", SYNTH_STREAM_BATCH))

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def read(self, start: dict):
        s = int(start["offset"])
        e = min(s + self.batch, self.total)
        return iter([synth_event_row(i) for i in range(s, e)]), {"offset": e}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            [
                synth_event_row(i)
                for i in range(int(start["offset"]), int(end["offset"]))
            ]
        )

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up — the generator is stateless


class SyntheticEventsStreamDataSource(DataSource):
    """``spark.readStream.format("synthetic_events")`` after
    registration."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return "event_id bigint, lang string, value double"

    def simpleStreamReader(self, schema) -> SyntheticEventsStreamReader:
        return SyntheticEventsStreamReader(self.options)


# ---------------------------------------------------------------------------
# Write side: a custom Python SINK (DataSourceWriter)
# ---------------------------------------------------------------------------


class _PartFileMessage(WriterCommitMessage):
    """Per-task commit message: the part file this task wrote."""

    def __init__(self, path: str):
        self.path = path


class JsonLinesSinkWriter(DataSourceWriter):
    """Executor-side writer: each task streams its partition to one
    JSON-lines part file, names it by partition id + a random suffix
    (two attempts of the same task can never collide), and reports it
    in the commit message. The driver-side commit() writes the
    _SUCCESS marker LAST — the same torn-write discipline as the
    parquet sinks (functions/cache.py checks the marker): a killed job
    leaves part files but no marker, so readers never see a partial
    table. In local mode the directory is a /tmp scratch path; a real
    deployment points ``path`` at shared storage."""

    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator):
        import json
        import os
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fn = os.path.join(
            self.path, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.jsonl"
        )
        with open(fn, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
        return _PartFileMessage(fn)

    def commit(self, messages):
        import os

        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            f.write("\n".join(m.path for m in messages if m is not None))

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class JsonLinesSinkDataSource(DataSource):
    """``df.write.format("jsonl_sink").option("path", dir).save()``
    after registration."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def writer(self, schema, overwrite: bool) -> JsonLinesSinkWriter:
        return JsonLinesSinkWriter(self.options)


class JsonLinesStreamSinkWriter(DataSourceStreamWriter):
    """Streaming twin of JsonLinesSinkWriter: every micro-batch's
    tasks write per-task part files named by (batch id, partition id,
    random suffix), and the per-batch commit() appends one line to a
    _commits log — the sink-side exactly-once discipline: a replayed
    batch (failure before commit) rewrites its rows under NEW random
    names and only the committed batch id lands in the log, so a
    reader that joins part files against the log sees each batch at
    most once. abort() deletes the batch's own part files."""

    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator):
        import json
        import os
        import uuid

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        batch_id = ctx.getLocalProperty("streaming.sql.batchId")
        fn = os.path.join(
            self.path,
            f"part-b{batch_id}-{pid:05d}-{uuid.uuid4().hex[:8]}.jsonl",
        )
        n = 0
        with open(fn, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        if n == 0:  # empty partition: no file, nothing to commit
            os.remove(fn)
            return _PartFileMessage("")
        return _PartFileMessage(fn)

    def commit(self, messages, batchId: int) -> None:
        import os

        files = [m.path for m in messages if m is not None and m.path]
        with open(os.path.join(self.path, "_commits"), "a") as f:
            f.write(json.dumps({"batch": batchId, "files": files}) + "\n")

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is not None and m.path and os.path.exists(m.path):
                os.remove(m.path)


class JsonLinesStreamSinkDataSource(DataSource):
    """``df.writeStream.format("jsonl_stream_sink")`` after
    registration."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_stream_sink"

    def streamWriter(self, schema, overwrite: bool) -> JsonLinesStreamSinkWriter:
        return JsonLinesStreamSinkWriter(self.options)
