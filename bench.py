#!/usr/bin/env python
"""Benchmark harness: runs the registered headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints two JSON lines, the summary last:

    {"metric": "per_query_seconds", "unit": "sec", "sf": ..., "cpus": ..., "queries": {key: s}}
    {"metric": "total_query_seconds", "value": N, "unit": "sec", "sf": ..., ...}

Every row is timed by ``time_row``: it builds the query's frame (eager
checkpoints and fixture-artifact builds included) and executes it into
the no-op sink. Every output column is materialized (a bare count()
would let Catalyst prune the projection expressions, timing map-only
queries as empty scans) but no rows cross to the driver.

Timing rule: the bench starts once ``perfbench.host.wait_for_quiet``
sees the 1-min load average below LOAD_GATE and CPU steal below
``host.STEAL_MAX_PCT``, or once LOAD_WAIT_S runs out: a bench that
never starts records nothing. An untimed warm-up pays the JVM,
parquet-footer, Python-worker and streaming-engine start-up. Then every
key runs twice and records the minimum, the least-interference
estimate on a shared box. A key runs a third time only when its own two
samples differ by more than SLOW_FACTOR: a load spike does not survive
the repeat, a plan cost does. A key whose first run fails records -1; a
later failure keeps the samples taken before it.
"""

from __future__ import annotations

import collections
import functools
import json
import os
import sys
import threading
import time
from contextlib import ExitStack

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from map_reduce_subnet_spark.operators import QUERIES  # noqa: E402
from map_reduce_subnet_spark.session import get_spark  # noqa: E402
from perfbench import host  # noqa: E402

SLOW_FACTOR = 2.0  # two samples further apart than this get a third run
LOAD_GATE = 12.0  # 1-min load average below which the bench starts
LOAD_WAIT_S = 240.0  # max seconds to wait for the gate, then proceed


def time_row(spark, build, group: str, probes=()) -> tuple[float, float]:
    """Build one row's frame under Spark job group ``group`` and run it
    into the no-op sink; returns (build_s, exec_s). Each probe is called
    with the half's name, "build" or "execute", and the context manager
    it returns is held over that half, outside its timing."""
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel=True)

    def timed(half, fn):
        with ExitStack() as stack:
            for probe in probes:
                stack.enter_context(probe(half))
            t0 = time.perf_counter()
            return fn(), time.perf_counter() - t0

    df, build_s = timed("build", build)
    _, exec_s = timed("execute", lambda: df.write.format("noop").mode("overwrite").save())
    return build_s, exec_s


def run_keys(
    spark, sf_dir: str, keys, runs=lambda run, group: run(), probes=(),
    group: str = "{key}", con=None, timeout: float | None = None,
) -> dict:
    """The one key loop: ``{key: runs(run, name)}`` for each key, where
    ``run()`` runs the registered query once under the Spark job group
    ``name = group.format(key=key)`` and raises what it raised. ``runs``
    decides how often a key runs and what is kept.

    ``run()`` returns ``time_row``'s (build_s, exec_s), the halves held
    under ``probes``. Given a DuckDB oracle connection ``con``
    (``perfbench.check.oracle_connection``), it returns instead
    ``perfbench.check.query_mismatch``'s diff of the collected answer
    against the key's oracle, None when they match. A watchdog cancels
    the job group of a run still going after ``timeout`` seconds."""
    if con is not None:
        from perfbench.check import query_mismatch

    def run(key, name):
        watchdog = threading.Timer(timeout or 0, spark.sparkContext.cancelJobGroup, (name,))
        if timeout:
            watchdog.start()
        try:
            if con is None:
                return time_row(spark, lambda: QUERIES[key](spark, sf_dir), name, probes)
            spark.sparkContext.setJobGroup(name, name, interruptOnCancel=True)
            return query_mismatch(spark, con, sf_dir, key)
        finally:
            watchdog.cancel()

    out = {}
    for key in keys:
        name = group.format(key=key)
        out[key] = runs(functools.partial(run, key, name), name)
    return out


def once_or_none(run, group: str):
    """One run's result, or None when it fails (reported on stderr)."""
    try:
        return run()
    except Exception as ex:
        print(f"bench: {group} FAILED: {ex}", file=sys.stderr)
        return None


def warm_up(
    spark,
    sf_dir: str,
    keys=("agg_reduce_sum", "udf_scalar", "text_token_count", "stream_stateful_ema"),
) -> None:
    """Untimed runs that pay the one-time costs before the first timed
    row: the JVM and parquet footers (agg_reduce_sum scans lineitem),
    the Python worker pool and Arrow path (udf_scalar), a documents scan
    (the text family's input), and the streaming engine, state store and
    Python state worker (stream_stateful_ema), whose start-up alone
    doubled the first timed streaming row. A failed warm-up is reported
    and skipped: it must not lose the whole record."""
    run_keys(spark, sf_dir, keys, once_or_none, group="warm-up {key}")


def bench_row(run, name: str) -> dict:
    """Time one key by the bench's rule. ``run()`` returns one sample,
    (build_s, exec_s). Returns the key's seconds (the minimum total, -1
    when the first run failed), the build half of that run, the number
    of successful runs and every sample's total."""
    samples: list[tuple[float, float]] = []
    for _ in range(3):
        if len(samples) == 2:
            fast, slow = sorted(sum(s) for s in samples)
            if slow <= SLOW_FACTOR * fast:
                break
        try:
            samples.append(run())
        except Exception as ex:
            print(f"bench: {name} run FAILED: {ex}", file=sys.stderr)
            break
    if not samples:
        return {"s": -1.0, "build_s": -1.0, "runs": 0, "samples": []}
    best = min(samples, key=sum)
    return {
        "s": round(sum(best), 4),
        "build_s": round(best[0], 4),
        "runs": len(samples),
        "samples": [round(sum(s), 4) for s in samples],
    }


def output_lines(detail: dict, detail_path: str) -> list[str]:
    """The per-query line and the summary line, in print order. A
    caller may keep only a bounded tail of stdout, so the last line is
    the compact summary (<1 KB): a run-count histogram stands in for the
    per-row counts, and the detail file holds the rest."""
    per_query = {
        "metric": "per_query_seconds",
        "unit": "sec",
        "sf": detail["sf"],
        "cpus": detail["cpus"],
        "queries": {k: round(v, 3) for k, v in detail["queries"].items()},
    }
    summary = {
        "metric": "total_query_seconds",
        "value": detail["value"],
        "unit": "sec",
        "sf": detail["sf"],
        "n_queries": len(detail["queries"]),
        "n_failed": sum(1 for t in detail["queries"].values() if t < 0),
        "runs_hist": dict(collections.Counter(str(c) for c in detail["runs"].values())),
        "methodology": detail["methodology"],
        "detail": detail_path,
    }
    return [json.dumps(per_query), json.dumps(summary)]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "default")
    start_load, _ = host.wait_for_quiet(LOAD_GATE, LOAD_WAIT_S)
    spark = get_spark(app_name="mrs-bench")
    warm_up(spark, sf_dir)

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

    def row(run, name: str) -> dict:
        load, tick0 = os.getloadavg()[0], host.cpu_ticks()
        r = bench_row(run, name)
        r["loadavg_1m"] = round(load, 2)
        # the row's CPU steal marks a wild sample as the host's noise,
        # not a plan regression
        r["steal_pct"] = round(host.steal_pct(tick0, host.cpu_ticks()), 1)
        return r

    rows = run_keys(spark, sf_dir, sorted(only or QUERIES), row)

    # Per-leg breakdown of the 8-leg recall harness: sim_ann_recall is
    # the heaviest bench row, and one min-of-2 total can hide a real
    # regression in ONE leg behind noise in the other seven. Building
    # ann_recall_leg_frames builds the shared index artifacts (cells,
    # band tables, ADC sums, exact baseline) — timed as
    # "_shared_artifacts" — so each leg's collect() then measures only
    # that leg's incremental cost. Informational (single run, not
    # min-of-2); lives only in the detail file, never the summary line.
    recall_legs: dict[str, float] = {}
    if rows.get("sim_ann_recall", {}).get("s", -1.0) >= 0:
        try:
            from map_reduce_subnet_spark.operators.llm import (
                ann_recall_leg_frames,
            )

            spark.sparkContext.setJobGroup("sim_ann_recall legs", "")
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

    def column(field: str) -> dict:
        return {k: r[field] for k, r in rows.items()}

    times = column("s")
    # The detail file sits in a gitignored output dir (env-overridable):
    # a committed generated artifact churns the diff on every rerun. Its
    # name carries the cpu config, so a low-core scaling run cannot
    # clobber the main run's per-query record.
    detail = {
        "metric": "total_query_seconds",
        "value": round(sum(t for t in times.values() if t >= 0), 4),
        "unit": "sec",
        "cpus": cpus,
        "queries": times,
        "build_s": column("build_s"),
        "runs": column("runs"),
        "run_samples": column("samples"),
        "steal_pct": column("steal_pct"),
        "loadavg_1m": column("loadavg_1m"),
        "loadavg_at_start": round(start_load, 2),
        "sim_ann_recall_legs": recall_legs,
        "methodology": (
            f"warmed; every key min-of-2, a 3rd run when its two samples "
            f"differ by >{SLOW_FACTOR}x; start gated on load<{LOAD_GATE} "
            f"and steal<{host.STEAL_MAX_PCT}%"
        ),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    out_dir = os.environ.get(
        "SPARK_GRAFT_OUT_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "out"),
    )
    os.makedirs(out_dir, exist_ok=True)
    detail_path = os.path.join(out_dir, f"BENCH_DETAIL_c{cpus}.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    for line in output_lines(detail, detail_path):
        print(line)
    spark.stop()


if __name__ == "__main__":
    main()
