"""The closed loop: sessions, passes and the correctness pass.

Import this only after ``run.isolate`` has set the environment: the
engine reads its CPU count and driver memory when it is imported and
when the JVM starts.
"""

from __future__ import annotations

import os
import tempfile
import time

from pyspark import SparkContext

from map_reduce_subnet_spark.operators import QUERIES
from map_reduce_subnet_spark.pipeline import SINK_PERIOD, SubnetPipeline, init_scores
from map_reduce_subnet_spark.session import get_spark
from perfbench import check, workloads
from perfbench.host import MIN_KEPT, STEAL_CALM_PCT, ProcessTree, cpu_ticks, steal_pct
from perfbench.layers import PER_LAYER, SpanLog, Tracer, artifact_dirs

SETUPS = 3
# a traced run needs an untraced and a traced pass
MIN_PASSES = 2


class Bench:
    """One run of one workload: a JVM, its sessions and their passes."""

    def __init__(self, workload: str, seed: int, sf_dir: str, work: str) -> None:
        if workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {workload!r}; known: {sorted(workloads.WORKLOADS)}")
        self.workload, self.seed, self.sf_dir, self.work = workload, seed, sf_dir, work
        self.metagraph = workloads.metagraph(seed)
        self.tree = ProcessTree()
        self.log = SpanLog()
        self.spark = None
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # sessions -----------------------------------------------------------

    def start_session(self, n: int) -> float:
        """Start session ``n`` (the first also starts the JVM) with an
        empty artifact cache; returns the seconds ``get_spark`` took."""
        if self.spark is not None:
            self.spark.stop()
        tempfile.tempdir = os.path.join(self.work, "tmp", f"s{n}")
        os.makedirs(tempfile.tempdir, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        took = time.perf_counter() - t0
        self.spark.sparkContext.setCheckpointDir(os.path.join(self.work, "ckpt", f"s{n}"))
        self.tree.root = SparkContext._gateway.proc.pid
        self.mg_df = self.spark.createDataFrame(
            self.metagraph, schema="uid long, stake double, registered boolean"
        )
        return took

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for every process of
        the tree to end."""
        self.tree.stop()
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                pass
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            try:
                gw.shutdown()
            except Exception:
                pass
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.tree.wait_gone()

    # operations ---------------------------------------------------------

    def new_pipeline(self) -> None:
        self.pipe = SubnetPipeline.attach()
        self.scores = init_scores(self.mg_df)

    def build(self, key: str):
        """The operation's plan; for a round, the period's rounds run
        here and the weights its last round sinks are returned."""
        if key == workloads.ROUND:
            for _ in range(SINK_PERIOD):
                self.scores, weights = self.pipe.validator_round(self.mg_df, self.scores)
            return weights
        return QUERIES[key](self.spark, self.sf_dir)

    def run_pass(self, pass_id: str, parent: int | None = None, traced: bool = False,
                 scan_tmp: bool = False) -> dict:
        """One pass of the workload into the noop sink; returns its
        record. ``scan_tmp`` counts the artifact dirs each op adds."""
        sc = self.spark.sparkContext
        self.new_pipeline()
        rec = {"pass": pass_id, "traced": traced, "ops": []}
        tick0, w0 = cpu_ticks(), time.perf_counter()
        for i, key in enumerate(workloads.pass_order(self.workload, self.seed, pass_id)):
            op = {"key": key}
            rec["ops"].append(op)
            before = artifact_dirs(tempfile.gettempdir()) if scan_tmp else None
            sc.setJobGroup(f"{pass_id}/{i}", key)
            self.attempted += 1
            if traced:
                # events of earlier, untraced operations (a stream's
                # last progress) must land before this op's marks
                self.tracer.settle()
                m0 = self.tracer.mark()
            t0, p0, k0 = time.time(), time.perf_counter(), cpu_ticks()
            try:
                df = self.build(key)
                built = time.perf_counter() - p0
                if traced:
                    m_built = self.tracer.mark()
                if df is not None:
                    df.write.format("noop").mode("overwrite").save()
                op["s"] = time.perf_counter() - p0
                op["steal_pct"] = steal_pct(k0, cpu_ticks())
            except Exception as ex:
                self.failed += 1
                self.errors.append(f"{pass_id} {key}: {str(ex)[:300]}")
                continue
            if scan_tmp:
                op["new_dirs"] = len(artifact_dirs(tempfile.gettempdir()) - before)
            if traced:
                self.tracer.settle()
                span = self.log.add(parent, "op", key, t0, t0 + op["s"])
                op["layers"] = self.tracer.op_layers(
                    span, t0, t0 + built, t0 + op["s"], m0, m_built, self.tracer.mark()
                )
        rec["s"] = time.perf_counter() - w0
        rec["steal_pct"] = steal_pct(tick0, cpu_ticks())
        return rec

    def check_pass(self) -> list[str]:
        """One untimed pass, every result compared with its reference."""
        con = check.oracle_connection(self.sf_dir, tempfile.gettempdir())
        want = check.expected_rounds(self.metagraph, workloads.ROUNDS_PER_PASS)
        self.new_pipeline()
        mismatches, rounds = [], 0
        for key in workloads.pass_order(self.workload, self.seed, "check"):
            self.attempted += 1
            try:
                if key == workloads.ROUND:
                    weights = self.build(key)
                    bad = check.round_mismatch(
                        self.scores.toPandas(),
                        None if weights is None else weights.toPandas(),
                        want[rounds],
                    )
                    rounds += 1
                else:
                    bad = check.query_mismatch(self.spark, con, self.sf_dir, key)
            except Exception as ex:
                self.failed += 1
                self.errors.append(f"check {key}: {str(ex)[:300]}")
                continue
            if bad:
                mismatches.append(bad[:500])
        con.close()
        return mismatches

    # the run ------------------------------------------------------------

    def run(self, seconds: float, trace: bool, deadline: float) -> dict:
        """Check pass, set-ups, then timed passes for ``seconds``; with
        ``trace`` the timed passes alternate untraced and traced.

        While some operation has had fewer than ``MIN_KEPT`` calm
        executions, passes go on for up to ``seconds`` more, but not
        past ``deadline`` (``time.perf_counter``)."""
        run_span = self.log.add(None, "run", "run", time.time(), time.time())
        t0 = time.time()
        jvm_start_s = self.start_session(0)
        mismatches = self.check_pass()
        self.log.add(run_span, "check", "check", t0, time.time())
        setups = []
        for n in range(1, SETUPS + 1):
            t0 = time.time()
            session_s = self.start_session(n)
            cold = self.run_pass(f"setup{n}", scan_tmp=trace)
            setups.append({"session_s": session_s, "s": session_s + cold["s"],
                           "steal_pct": cold["steal_pct"], "cold": cold})
            self.log.add(run_span, "setup", f"setup{n}", t0, time.time())
        if trace:
            self.tracer = Tracer(self.spark, self.log)
        passes = []
        start = time.perf_counter()
        t_end = start + seconds
        t_max = min(start + 2 * seconds, deadline)

        def settled() -> bool:
            calm: dict[tuple[bool, str], int] = {}
            for p in passes:
                for op in p["ops"]:
                    if op.get("steal_pct", 100.0) < STEAL_CALM_PCT:
                        key = (p["traced"], op["key"])
                        calm[key] = calm.get(key, 0) + 1
            kinds = {p["traced"] for p in passes}
            want = {(t, k) for t in kinds for k in workloads.pass_ops(self.workload)}
            return all(calm.get(k, 0) >= MIN_KEPT for k in want)

        while len(passes) < MIN_PASSES or (
            time.perf_counter() < t_end or (time.perf_counter() < t_max and not settled())
        ):
            traced = trace and len(passes) % 2 == 1
            t0 = time.time()
            span = self.log.add(run_span, "pass", f"p{len(passes)}", t0, t0)
            rec = self.run_pass(f"p{len(passes)}", parent=span, traced=traced, scan_tmp=traced)
            self.log.spans[span - 1]["t1"] = round(time.time(), 6)
            if traced:
                rec["layers"] = self.pass_layers(rec)
            passes.append(rec)
        self.log.spans[run_span - 1]["t1"] = round(time.time(), 6)
        return {"jvm_start_s": jvm_start_s, "setups": setups, "passes": passes,
                "mismatches": mismatches}

    def pass_layers(self, rec: dict) -> dict[str, float]:
        """Per-layer totals of one traced pass."""
        total = dict.fromkeys(PER_LAYER, 0.0)
        longest = (-1.0, None)
        round_jobs = 0.0
        for op in rec["ops"]:
            layers = op.get("layers")
            if not layers:
                continue
            for k in PER_LAYER:
                total[k] += layers[k]
            longest = max(longest, layers.get("_longest", longest))
            if op["key"] == workloads.ROUND:
                round_jobs += layers["exec.jobs"]
        total["exec.task_skew"] = self.tracer.task_skew(longest[1]) if longest[1] else 1.0
        total["pipeline.round_jobs"] = round_jobs / workloads.ROUNDS_PER_PASS
        return total
