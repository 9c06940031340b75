#!/usr/bin/env python
"""Benchmark harness: runs the registered headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "sf": ..., ...}

Per-query time = full plan execution into the no-op sink: every output
column is materialized (a bare count() would let Catalyst prune the
projection expressions, timing map-only queries as empty scans) but no
rows cross to the driver.

Timing methodology (machine load after a test run inflates single
samples, most of all the streaming rows):

- a warm-up pass first touches the JVM, the parquet footers AND the
  Python worker pool (single cold samples of sub-second queries are
  noise-dominated);
- each query under REPEAT_UNDER seconds runs twice and records the
  MIN (the least-interference estimate on this box);
- STREAMING rows (stream_*) ALWAYS get >= 2 runs regardless of the
  threshold — their cost is trigger/startup-dominated, which is
  exactly the component machine load inflates;
- any row whose recorded value still exceeds 2x its committed
  baseline (bench_baseline.json, compiled from BASELINE.md by
  scripts/build_bench_baseline.py) triggers ONE automatic extra run
  before being recorded — a real regression survives the repeat, a
  GC/load spike doesn't;
- the bench refuses to START until the 1-min load average drops
  below LOAD_GATE (waiting up to LOAD_WAIT_S), and records the load
  average at start and per-row in the detail file, so a loaded run
  is at least legible as one.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from map_reduce_subnet_spark.operators import QUERIES  # noqa: E402
from map_reduce_subnet_spark.session import get_spark  # noqa: E402
from perfbench import host  # noqa: E402

REPEAT_UNDER = 12.0  # sec: first-run times below this get a 2nd run
# (above it: jobs whose single-run noise is relatively small and
# whose repeats would triple a minutes-long bench). Sub-threshold
# queries record MIN-of-2, not a median-of-3, which would push the
# bench's wall-clock too far: on this box's interference profile the
# minimum is the least-contaminated sample, and on a quiet machine
# min-of-2 and median-of-3 agree to noise (NOTES.md measurement
# traps). The threshold is set to take in the non-streaming rows
# whose first run pays a ~2x codegen/JIT cold penalty under load,
# which min-of-2 absorbs; rows whose cold run outgrew it are listed
# in ALWAYS_TWO_RUNS.

SLOW_FACTOR = 2.0  # recorded/baseline ratio that triggers one re-run

# Keys whose FIRST run may build a fixture cache (the persisted-index
# discipline) always get >= 2 runs even above REPEAT_UNDER, so the
# recorded min is the warm serving path — the deployment's steady
# state — not the one-time build. (Streaming rows get the same
# treatment below for their trigger/startup floor.)
ALWAYS_TWO_RUNS = {"sim_ann_recall", "graph_pagerank"}
# graph_pagerank's 11-job iterative chain pays a ~2x first-run
# codegen/JIT penalty (12.3 s cold vs 6.5 s warm on one session) —
# exactly the noise class REPEAT_UNDER exists for, but its cold run
# is above the threshold, so it would record a single COLD run with
# the penalty as query time. Min-of-2 gives it the measurement every
# other non-streaming row gets.
LOAD_GATE = 12.0  # 1-min load average below which the bench starts
LOAD_WAIT_S = 240.0  # max seconds to wait for the gate, then proceed


def _load_baseline() -> dict[str, float]:
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_baseline.json"
    )
    try:
        with open(path) as f:
            return {k: float(v) for k, v in json.load(f).items()}
    except Exception:
        return {}


def _wait_for_quiet_machine() -> float:
    """Block until the 1-min load average is below LOAD_GATE or the
    wait budget runs out (the driver always needs an artifact — never
    refuse forever). Returns the load average at bench start."""
    deadline = time.monotonic() + LOAD_WAIT_S
    load = os.getloadavg()[0]
    while load >= LOAD_GATE and time.monotonic() < deadline:
        print(
            f"bench: load {load:.1f} >= gate {LOAD_GATE}, waiting...",
            file=sys.stderr,
        )
        time.sleep(10)
        load = os.getloadavg()[0]
    return load


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "default")
    baseline = _load_baseline()
    start_load = _wait_for_quiet_machine()
    spark = get_spark(app_name="mrs-bench")

    # Warm-up: JVM + parquet footers (agg_reduce_sum scans lineitem),
    # Python worker pool + Arrow path (udf_scalar), a documents scan
    # (the text family's input), and one throwaway stateful streaming
    # job (stream_stateful_ema) so the streaming engine + state-store
    # + Python state-worker spin-up cost lands here instead of
    # inflating the first timed streaming row (on startup cost alone
    # that row read >2x its baseline). A warm-up failure must not lose
    # the whole bench record (the per-query loop tolerates failures;
    # this must too, or one broken query kills the bench row).
    for warm in (
        "agg_reduce_sum",
        "udf_scalar",
        "text_token_count",
        "stream_stateful_ema",
    ):
        try:
            QUERIES[warm](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as ex:
            print(f"bench: warm-up {warm} FAILED: {ex}", file=sys.stderr)

    def run_once(fn) -> float:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    only = {
        n for n in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if n
    }
    unknown = sorted(only - QUERIES.keys())
    if unknown:
        # Skip-with-warning rather than KeyError mid-loop: a typo in
        # SPARK_GRAFT_ONLY must not abort the whole bench.
        print(
            f"bench: SPARK_GRAFT_ONLY names not in QUERIES, skipping: "
            f"{','.join(unknown)}",
            file=sys.stderr,
        )
        only -= set(unknown)
        if not only:
            raise SystemExit(
                "bench: SPARK_GRAFT_ONLY matched no known queries"
            )
    times: dict[str, float] = {}
    n_runs: dict[str, int] = {}
    loads: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    steal_pct: dict[str, float] = {}
    for name in sorted(only or QUERIES):
        fn = QUERIES[name]
        # Sub-threshold queries run twice and record the MIN: a
        # GC-spiked first sample of a sub-second query must not be
        # recorded as a single-shot "5x regression", and the minimum
        # is the least-interference estimate on this box. Queries
        # whose first run is already over the threshold record that
        # single run UNLESS they are streaming rows (always >= 2
        # runs: their trigger/startup-dominated cost is what machine
        # load inflates). A repeat run that throws after an earlier
        # run succeeded is a transient flake: keep the successful
        # sample(s) (n_runs records how many survived); only
        # 0-successes records a failure.
        loads[name] = round(os.getloadavg()[0], 2)
        tick0 = host.cpu_ticks()
        is_streaming = (
            name.startswith("stream_") or name in ALWAYS_TWO_RUNS
        )
        runs: list[float] = []
        want = 2
        while len(runs) < want:
            try:
                runs.append(run_once(fn))
            except Exception as ex:
                print(f"bench: {name} run FAILED: {ex}", file=sys.stderr)
                break
            if (
                len(runs) == 1
                and runs[0] >= REPEAT_UNDER
                and not is_streaming
            ):
                want = 1
        # Slow-row protection: a recorded value still >2x the
        # committed baseline gets ONE more run — a real plan
        # regression survives it and stays red; an interference
        # spike doesn't and stops polluting the bench record.
        base = baseline.get(name)
        if (
            runs
            and base is not None
            and min(runs) > SLOW_FACTOR * base
        ):
            print(
                f"bench: {name} {min(runs):.2f}s > {SLOW_FACTOR}x "
                f"baseline {base:.2f}s — automatic re-run",
                file=sys.stderr,
            )
            try:
                runs.append(run_once(fn))
            except Exception as ex:
                print(f"bench: {name} re-run FAILED: {ex}", file=sys.stderr)
        if not runs:
            times[name] = -1.0
            n_runs[name] = 0
        else:
            times[name] = round(min(runs), 4)
            n_runs[name] = len(runs)
        # Keep EVERY sample, not just the min, so a measurement-policy
        # change (a key entering ALWAYS_TWO_RUNS) stays separable from
        # an engine change in the bench record (cold first run and
        # warm repeats are all on record).
        samples[name] = [round(r, 4) for r in runs]
        # the row's CPU steal marks a wild sample as the host's noise,
        # not a plan regression
        steal_pct[name] = round(host.steal_pct(tick0, host.cpu_ticks()), 1)

    # Per-leg breakdown of the 8-leg recall harness: sim_ann_recall is
    # the heaviest bench row, and one min-of-2 total can hide a real
    # regression in ONE leg behind noise in the other seven. Building
    # ann_recall_leg_frames builds the shared index artifacts (cells,
    # band tables, ADC sums, exact baseline) — timed as
    # "_shared_artifacts" — so each leg's collect() then measures only
    # that leg's incremental cost. Informational (single run, not
    # min-of-2); lives only in the detail file, never the summary line.
    recall_legs: dict[str, float] = {}
    if times.get("sim_ann_recall", -1.0) >= 0:
        try:
            from map_reduce_subnet_spark.operators.llm import (
                ann_recall_leg_frames,
            )

            t0 = time.perf_counter()
            leg_frames = ann_recall_leg_frames(spark, sf_dir)
            recall_legs["_shared_artifacts"] = round(
                time.perf_counter() - t0, 4
            )
            for method, leg_df in leg_frames.items():
                t0 = time.perf_counter()
                leg_df.collect()
                recall_legs[method] = round(time.perf_counter() - t0, 4)
        except Exception as ex:
            print(f"bench: recall leg breakdown FAILED: {ex}",
                  file=sys.stderr)

    total = round(sum(t for t in times.values() if t >= 0), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # A caller may capture only a bounded tail of stdout, and a single
    # JSON line with all ~237 per-query timings (~8 KB) gets truncated
    # mid-dict. Keep the LAST stdout line a compact summary (<1 KB) and
    # put the per-query detail in a file, in a gitignored output dir
    # (env-overridable): a committed generated artifact churns the
    # diff on every rerun. The detail path is stamped with the run's
    # cpu config, so a low-core scaling run cannot clobber the main
    # run's per-query record, and no per-query line goes to stderr,
    # where it would crowd out the captured tail (the summary line's
    # "detail" field is the per-query contract).
    detail = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "cpus": cpus,
        "queries": times,
        "runs": n_runs,
        "run_samples": samples,
        "steal_pct": steal_pct,
        "loadavg_1m": loads,
        "loadavg_at_start": round(start_load, 2),
        "sim_ann_recall_legs": recall_legs,
        "methodology": (
            f"warmed; min-of-2 under {REPEAT_UNDER}s, single run above; "
            "streaming rows always min-of-2; rows >2x baseline get one "
            f"automatic re-run; start gated on load<{LOAD_GATE}"
        ),
        "sf": sf_val,
    }
    out_dir = os.environ.get(
        "SPARK_GRAFT_OUT_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "out"),
    )
    os.makedirs(out_dir, exist_ok=True)
    detail_path = os.path.join(out_dir, f"BENCH_DETAIL_c{cpus}.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    n_failed = sum(1 for t in times.values() if t < 0)
    # The repeat policy must be visible in the summary itself. Per-row
    # run counts would bloat the summary line past a bounded
    # stdout-tail capture, so the summary carries a HISTOGRAM of run
    # counts ({"2": 180, "1": 25, ...}) + the methodology string; the exact
    # per-row counts stay in the detail file's "runs" dict.
    runs_hist: dict[str, int] = {}
    for c in n_runs.values():
        runs_hist[str(c)] = runs_hist.get(str(c), 0) + 1
    print(
        json.dumps(
            {
                "metric": "total_query_seconds",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(times),
                "n_failed": n_failed,
                "runs_hist": runs_hist,
                "methodology": detail["methodology"],
                "detail": detail_path,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
