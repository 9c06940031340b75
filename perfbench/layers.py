"""Per-layer measurement, taken from outside each layer's boundary.

Nothing here reaches into the engine. After each operation the tracer
waits for Spark's listener bus to drain, then reads:

- the jobs the operation started (job ids are sequential, and the
  closed loop runs one operation at a time, so the operation owns the
  id range it opened; that also catches streaming micro-batch jobs,
  which run under their query's own job group);
- each job's stages from the JVM status store (run, CPU, GC, shuffle,
  spill, input and output figures, and the stage's active interval);
- the SQL executions it started and their plan metrics (the Python
  worker timings and bytes, the number of written files);
- the streaming progress a ``StreamingQueryListener`` received;
- the artifact directories that appeared in the run's temp dir.

Every figure is a per-operation dict of the ``PER_LAYER`` names.
"""

from __future__ import annotations

import itertools
import os
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# per-layer metric -> unit; the order is the report order
PER_LAYER = {
    "session.start_s": "s",
    "cache.artifacts_built": "count",
    "cache.build_s": "s",
    "plan.build_s": "s",
    "plan.build_jobs": "count",
    "driver.overhead_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "exec.gc_s": "s",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "spill.bytes": "bytes",
    "exec.single_task_stages": "count",
    "exec.task_skew": "ratio",
    "input.bytes": "bytes",
    "output.bytes": "bytes",
    "output.files": "count",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "stream.triggers": "count",
    "stream.empty_triggers": "count",
    "stream.add_batch_s": "s",
    "stream.query_planning_s": "s",
    "stream.wal_commit_s": "s",
    "state.commit_s": "s",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "pipeline.round_jobs": "count",
    "trace.overhead_s": "s",
}

# counts that must repeat exactly between two traced runs of one seed
REPEATABLE = ("exec.jobs", "stream.triggers", "cache.artifacts_built", "exec.single_task_stages")

# SQL plan metric name -> (layer, scale to the layer's unit)
SQL_METRICS = {
    "time to start Python workers": ("python.init_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "time to run Python workers": ("python.run_s", 1e-3),
    "data sent to Python workers": ("python.bytes_sent", 1),
    "data returned from Python workers": ("python.bytes_received", 1),
    "number of written files": ("output.files", 1),
}

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _formatted(text: str) -> float:
    """Raw value of a formatted SQL metric ("1.2 s", "4.0 KiB", "1,500").
    Multi-task metrics read "total (min, med, max ...)\\n<total> (...)"."""
    head = text.split("\n")[-1].split(" (")[0].replace(",", "")
    num, _, unit = head.partition(" ")
    return float(num) * _UNITS.get(unit, 1)


class _Progress(StreamingQueryListener):
    """Collects every streaming trigger's progress into ``sink``."""

    def __init__(self) -> None:
        self.sink: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.sink.append(
            {
                "query": str(p.id),
                "batch": p.batchId,
                "at": p.timestamp,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state": [
                    (s.commitTimeMs, s.numRowsTotal, s.memoryUsedBytes)
                    for s in p.stateOperators
                ],
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def artifact_dirs(tmp: str) -> set[str]:
    """Top-level directories of ``tmp`` holding a complete parquet
    write (the ``_SUCCESS`` marker the fixture caches key on)."""
    try:
        names = os.listdir(tmp)
    except FileNotFoundError:
        return set()
    return {n for n in names if os.path.exists(os.path.join(tmp, n, "_SUCCESS"))}


class SpanLog:
    """The run's span tree: run -> setup/pass -> op -> {build, execute}
    -> job -> stage, and op -> trigger."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def add(self, parent: int | None, kind: str, name: str, t0: float, t1: float, **attrs) -> int:
        sid = next(self._ids)
        self.spans.append(
            {"id": sid, "parent": parent, "kind": kind, "name": name,
             "t0": round(t0, 6), "t1": round(t1, 6), **attrs}
        )
        return sid


class Tracer:
    """Reads one session's layers into the run's span log."""

    def __init__(self, spark, log: SpanLog) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.gw = self.sc._gateway
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.progress = _Progress()
        spark.streams.addListener(self.progress)
        self.span = log.add

    def mark(self) -> tuple[int, int, int]:
        """(next job id, SQL execution count, progress count) now."""
        return (self.jsc.dagScheduler().numTotalJobs(),
                self.sql.executionsCount(), len(self.progress.sink))

    def settle(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def op_layers(self, op_span: int, t0: float, t_built: float, t1: float,
                  m0, m_built, m1) -> dict[str, float]:
        """Layers of one operation that ran over [t0, t1] (epoch s),
        built its plan until ``t_built``, between marks m0 .. m1."""
        out = dict.fromkeys(PER_LAYER, 0.0)
        out["plan.build_s"] = t_built - t0
        out["plan.build_jobs"] = m_built[0] - m0[0]
        out["exec.jobs"] = m1[0] - m0[0]
        build = self.span(op_span, "build", "build", t0, t_built)
        execute = self.span(op_span, "execute", "execute", t_built, t1)
        intervals: list = []
        seen: set = set()
        for job_id in range(m0[0], m1[0]):
            job = self.store.job(job_id)
            jt0 = job.submissionTime().get().getTime() / 1e3 if job.submissionTime().isDefined() else t0
            jt1 = job.completionTime().get().getTime() / 1e3 if job.completionTime().isDefined() else t1
            job_span = self.span(build if job_id < m_built[0] else execute, "job", str(job_id), jt0, jt1)
            stage_ids = job.stageIds()
            for i in range(stage_ids.length()):
                if stage_ids.apply(i) not in seen:
                    seen.add(stage_ids.apply(i))
                    self._stage(job_span, stage_ids.apply(i), t0, out, intervals)
        out["driver.overhead_s"] = (t1 - t0) - _union(intervals, t0, t1)
        self._sql(m0[1], m1[1], out)
        self._stream(op_span, self.progress.sink[m0[2]:m1[2]], out)
        return out

    def _stage(self, job_span: int, stage_id: int, t0: float, out: dict, intervals: list) -> None:
        """Add one stage's attempts that ran inside this operation (a
        shuffle stage reused from an earlier job ran before t0)."""
        attempts = self.store.stageData(
            stage_id, False, self.gw.jvm.java.util.ArrayList(), False,
            self.gw.new_array(self.gw.jvm.double, 0))
        for a in range(attempts.length()):
            sd = attempts.apply(a)
            if str(sd.status()) in ("SKIPPED", "PENDING") or not sd.submissionTime().isDefined():
                continue
            s0 = sd.submissionTime().get().getTime() / 1e3
            if s0 < t0 - 0.002:
                continue
            s1 = sd.completionTime().get().getTime() / 1e3 if sd.completionTime().isDefined() else s0
            intervals.append((s0, s1))
            run_s = sd.executorRunTime() / 1e3
            self.span(job_span, "stage", f"{stage_id}.{sd.attemptId()}", s0, s1,
                      tasks=sd.numTasks(), run_s=run_s)
            out["exec.stages"] += 1
            out["exec.tasks"] += sd.numTasks()
            out["exec.single_task_stages"] += sd.numTasks() == 1
            out["exec.cpu_s"] += sd.executorCpuTime() / 1e9
            out["exec.run_s"] += run_s
            out["exec.gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle.read_bytes"] += sd.shuffleReadBytes()
            out["shuffle.write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle.fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
            out["spill.bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["input.bytes"] += sd.inputBytes()
            out["output.bytes"] += sd.outputBytes()
            if run_s > out.get("_longest", (-1.0,))[0]:
                out["_longest"] = (run_s, (stage_id, sd.attemptId()))

    def task_skew(self, stage: tuple[int, int]) -> float:
        """max / median task run time of one stage attempt."""
        q = self.gw.new_array(self.gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        attempts = self.store.stageData(stage[0], False, self.gw.jvm.java.util.ArrayList(), True, q)
        for a in range(attempts.length()):
            sd = attempts.apply(a)
            dist = sd.taskMetricsDistributions()
            if sd.attemptId() == stage[1] and dist.isDefined():
                run = dist.get().executorRunTime()
                return run.apply(1) / max(run.apply(0), 1.0)
        return 1.0

    def _sql(self, first: int, end: int, out: dict) -> None:
        """Add the ``SQL_METRICS`` of SQL executions first .. end - 1,
        as the status store aggregated them when each one ended."""
        if end <= first:
            return
        execs = self.sql.executionsList(first, end - first)
        for i in range(execs.length()):
            ex = execs.apply(i)
            formatted = self.sql.executionMetrics(ex.executionId())
            seen = set()
            metrics = ex.metrics()
            for j in range(metrics.length()):
                m = metrics.apply(j)
                target = SQL_METRICS.get(m.name())
                acc_id = m.accumulatorId()
                text = formatted.get(acc_id)
                if target is None or acc_id in seen or not text.isDefined():
                    continue
                seen.add(acc_id)
                out[target[0]] += _formatted(text.get()) * target[1]

    def _stream(self, op_span: int, triggers: list[dict], out: dict) -> None:
        last_state: dict[str, list] = {}
        for p in triggers:
            d = p["duration_ms"]
            start = datetime.fromisoformat(p["at"]).timestamp()
            self.span(op_span, "trigger", f"{p['query'][:8]}#{p['batch']}",
                      start, start + d.get("triggerExecution", 0) / 1e3, rows=p["rows"])
            out["stream.triggers"] += 1
            out["stream.empty_triggers"] += p["rows"] == 0
            out["stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
            out["stream.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
            out["stream.wal_commit_s"] += d.get("walCommit", 0) / 1e3
            out["state.commit_s"] += sum(s[0] for s in p["state"]) / 1e3
            last_state[p["query"]] = p["state"]
        for state in last_state.values():
            out["state.rows_total"] += sum(s[1] for s in state)
            out["state.memory_bytes"] += sum(s[2] for s in state)


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span kind: each span's duration minus its
    children's (floored at 0 where children ran in parallel)."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + (s["t1"] - s["t0"])
    out: dict[str, float] = {}
    for s in spans:
        own = max((s["t1"] - s["t0"]) - child.get(s["id"], 0.0), 0.0)
        out[s["kind"]] = round(out.get(s["kind"], 0.0) + own, 6)
    return out
