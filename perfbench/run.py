#!/usr/bin/env python3
"""Closed-loop benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload etl_stream --seed 1 --seconds 12 --trace 0

Run from the repository root. One Python driver thread issues the
workload's operations one after another on ``local[4]``:

1. start the JVM and the first session, and run one untimed, cold
   pass whose results are checked against the oracles (``check.py``);
2. set-up, three times: start a new session with an empty artifact
   cache and run one cold pass; ``setup_s`` is the median. The JVM
   stays up, so a set-up pays cold artifacts, a new session and new
   Python workers, but not JVM start, JIT warm-up or code generation
   (Spark's compiled-code cache is JVM-wide);
3. timed passes for ``--seconds``, and for up to as long again while
   some operation has had fewer than three calm executions (under 2%
   CPU steal, ``host.py``), but not past 60 s into the run.

Each operation's latency is its median over its calm executions, or
over its three calmest when fewer were calm: the hypervisor's steal
slows an operation by several times its share.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes, prints the per-layer metrics of the traced
ones (``layers.py``) and keeps the span tree in the run record. Every
run writes its record (host, set-ups, per-pass and per-operation times)
to ``.bench_out/``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Each run works in a fresh ``.bench_work/<pid>/`` (temp, Spark local,
warehouse and checkpoint dirs), removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.dont_write_bytecode = True

from perfbench import workloads  # noqa: E402
from perfbench.host import calm, wait_for_quiet  # noqa: E402
from perfbench.layers import PER_LAYER, self_times  # noqa: E402

SF_DIR = os.path.join(HERE, "data")
# The engine's 16g default exceeds a small box's RAM. A fixed heap
# (-Xms = -Xmx) keeps GC sizing, and so RSS and timings, alike across
# runs; peak RSS then moves with off-heap and Python worker memory.
DRIVER_MEM = "1g"
WATCHDOG_S = 170.0
# passes beyond --seconds, made to collect calm executions, stop this
# long after the process started
RUN_BUDGET_S = 60.0

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "geomean_op_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def isolate(work: str) -> None:
    """Point every scratch location of the run into ``work``."""
    for sub in ("tmp", "local", "warehouse", "ckpt"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                f"--conf spark.sql.warehouse.dir={work}/warehouse",
                "--conf spark.ui.showConsoleProgress=false",
                # keep every job, stage and SQL execution of the run
                # readable by the tracer
                "--conf spark.ui.retainedJobs=100000",
                "--conf spark.ui.retainedStages=100000",
                "--conf spark.sql.ui.retainedExecutions=100000",
                f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData"',
                "pyspark-shell",
            ]
        ),
    )


# --- metrics -----------------------------------------------------------


def op_medians(passes: list[dict]) -> dict[str, float]:
    """Each operation's median latency over its calm executions
    (``host.calm``, by the steal during each one)."""
    runs: dict[str, list[dict]] = {}
    for p in passes:
        for op in p["ops"]:
            if "s" in op:
                runs.setdefault(op["key"], []).append(op)
    return {k: statistics.median(op["s"] for op in calm(v)) for k, v in runs.items()}


def end_to_end(out: dict, peak_kb: int, workload: str) -> dict[str, float]:
    med = op_medians([p for p in out["passes"] if not p["traced"]])
    return {
        "setup_s": statistics.median(s["s"] for s in out["setups"]),
        # one pass, each operation at its median
        "pass_s": sum(med[k] for k in workloads.pass_ops(workload)),
        "geomean_op_s": math.exp(statistics.fmean(math.log(v) for v in med.values())),
        "peak_rss_mb": peak_kb / 1024.0,
    }


def per_layer(out: dict) -> dict[str, float]:
    """Medians over the traced passes, plus the set-up layers.

    An artifact is a ``_SUCCESS`` dir a set-up's cold op added beyond
    what the same op adds when warm (scratch output); its build time is
    the op's cold latency over its warm median."""
    traced = calm([p for p in out["passes"] if p["traced"]])
    plain = [p["s"] for p in calm([p for p in out["passes"] if not p["traced"]])]
    vals = {k: statistics.median(p["layers"][k] for p in traced) for k in PER_LAYER}
    warm = op_medians(out["passes"])
    warm_dirs = {op["key"]: op.get("new_dirs", 0) for op in traced[0]["ops"]}
    built, build_s = [], []
    for s in out["setups"]:
        n, extra = 0, 0.0
        for op in s["cold"]["ops"]:
            new = op.get("new_dirs", 0) - warm_dirs.get(op["key"], 0)
            if new > 0 and "s" in op:
                n += new
                extra += op["s"] - warm[op["key"]]
        built.append(n)
        build_s.append(extra)
    vals["session.start_s"] = statistics.median(s["session_s"] for s in out["setups"])
    vals["cache.artifacts_built"] = statistics.median(built)
    vals["cache.build_s"] = statistics.median(build_s)
    vals["trace.overhead_s"] = statistics.median(p["s"] for p in traced) - statistics.median(plain)
    return vals


def record(args, out: dict, bench, metrics: dict, host: dict, phase: dict) -> dict:
    plain = [p["s"] for p in out["passes"] if not p["traced"]]
    rec = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {**host, "steal_pct_per_pass": [p["steal_pct"] for p in out["passes"]]},
        "phase_s": phase,
        "jvm_session_start_s": out["jvm_start_s"],
        "setup_s": [s["s"] for s in out["setups"]],
        "setup_steal_pct": [s["steal_pct"] for s in out["setups"]],
        "setup_ops": [[(o["key"], o.get("s")) for o in s["cold"]["ops"]] for s in out["setups"]],
        "pass_s": [p["s"] for p in out["passes"]],
        "pass_traced": [p["traced"] for p in out["passes"]],
        # last untraced pass minus the first, as a share of their median
        "pass_drift": (plain[-1] - plain[0]) / statistics.median(plain),
        "ops": [[(o["key"], o.get("s"), o.get("steal_pct")) for o in p["ops"]]
                for p in out["passes"]],
        "mismatches": out["mismatches"],
        "errors": bench.errors,
        "metrics": metrics,
    }
    if args.trace:
        rec["per_op_layers"] = [
            [{"key": o["key"], **{k: o["layers"][k] for k in PER_LAYER}}
             for o in p["ops"] if "layers" in o]
            for p in out["passes"] if p["traced"]
        ]
        rec["self_s_by_kind"] = self_times(bench.log.spans)
        rec["spans"] = bench.log.spans
    return rec


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "map_reduce_subnet_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", str(os.getpid()))
    isolate(work)
    from perfbench.loop import Bench

    nproc = os.cpu_count() or 1
    load, waited = wait_for_quiet(2.0 * nproc)
    host = {"nproc": nproc, "loadavg_1m_at_start": load, "load_gate_wait_s": waited}
    bench = Bench(args.workload, args.seed, SF_DIR, work)

    def expire() -> None:
        print("perfbench: watchdog expired, killing the run", file=sys.stderr)
        bench.tree.kill()
        os._exit(3)

    watchdog = threading.Timer(WATCHDOG_S, expire)
    watchdog.daemon = True
    watchdog.start()
    phase = {"start": time.perf_counter() - T0}
    try:
        out = bench.run(args.seconds, bool(args.trace), T0 + RUN_BUDGET_S)
        phase["run"] = time.perf_counter() - T0 - phase["start"]
        bench.tree.sample()
        metrics = (per_layer(out) if args.trace
                   else end_to_end(out, bench.tree.peak_kb, args.workload))
    finally:
        t0 = time.perf_counter()
        bench.shutdown()
        phase["shutdown"] = time.perf_counter() - t0
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record(args, out, bench, metrics, host, phase), f, indent=1)
    print(f"perfbench: record {path}", file=sys.stderr)

    units = PER_LAYER if args.trace else E2E_UNITS
    correct = not out["mismatches"] and bench.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
