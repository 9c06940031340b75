"""bench.py's timing rule and its two output lines, without Spark."""

from __future__ import annotations

import json
import os

import pytest

import bench
from map_reduce_subnet_spark.operators import QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The per-query line for the whole registry stays below this many bytes
# even when every key takes two-digit seconds (the 237 keys of
# plans/r16/BENCH_DETAIL_close_c32.json make a 6,767-byte line).
PER_QUERY_LINE_MAX = 8192


def fake_runner(samples):
    """A stand-in for time_row: each call returns the next sample, and a
    sample that is an exception is raised instead."""
    it = iter(samples)

    def run():
        s = next(it)
        if isinstance(s, Exception):
            raise s
        return s

    return run


@pytest.mark.parametrize(
    "samples, runs, s, build_s",
    [
        # two close samples: min-of-2, no third run
        ([(0.1, 0.9), (0.2, 1.0), (0.0, 0.1)], 2, 1.0, 0.1),
        # exactly SLOW_FACTOR apart is still close
        ([(0.0, 2.0), (0.0, 1.0), (0.0, 0.1)], 2, 1.0, 0.0),
        # past SLOW_FACTOR: one third run, the minimum of all three
        ([(0.5, 4.0), (0.3, 1.6), (0.4, 0.8)], 3, 1.2, 0.4),
        ([(0.5, 0.5), (1.0, 2.5), (0.4, 1.0)], 3, 1.0, 0.5),
    ],
)
def test_repeat_rule(samples, runs, s, build_s):
    row = bench.bench_row(fake_runner(samples), "k")
    assert (row["runs"], row["s"], row["build_s"]) == (runs, s, build_s)
    assert row["samples"] == [round(sum(x), 4) for x in samples[:runs]]


def test_first_run_failure_records_minus_one():
    row = bench.bench_row(fake_runner([RuntimeError("boom")]), "k")
    assert row == {"s": -1.0, "build_s": -1.0, "runs": 0, "samples": []}


def test_later_failure_keeps_earlier_samples():
    row = bench.bench_row(fake_runner([(0.25, 1.0), RuntimeError("boom")]), "k")
    assert row == {"s": 1.25, "build_s": 0.25, "runs": 1, "samples": [1.25]}
    row = bench.bench_row(
        fake_runner([(0.0, 1.0), (0.0, 3.0), RuntimeError("boom")]), "k"
    )
    assert (row["runs"], row["s"]) == (2, 1.0)


def _detail(times: dict[str, float]) -> dict:
    return {
        "value": round(sum(t for t in times.values() if t >= 0), 4),
        "cpus": "32",
        "sf": 0.1,
        "queries": times,
        "runs": {k: 2 if i % 5 else 3 for i, k in enumerate(times)},
        "methodology": "m",
    }


def test_output_lines_summary_last_with_the_recorded_key_set():
    times = {"agg_reduce_sum": 1.23456, "dedup_exact": -1.0}
    per_query, summary = (
        json.loads(line) for line in bench.output_lines(_detail(times), "/x.json")
    )
    with open(os.path.join(REPO, "BENCH_r16.json")) as f:
        parsed = json.load(f)["parsed"]
    assert summary.keys() == parsed.keys()
    assert summary["metric"] == "total_query_seconds"
    assert (summary["n_queries"], summary["n_failed"]) == (2, 1)
    assert summary["runs_hist"] == {"3": 1, "2": 1}
    assert per_query == {
        "metric": "per_query_seconds",
        "unit": "sec",
        "sf": 0.1,
        "cpus": "32",
        "queries": {"agg_reduce_sum": 1.235, "dedup_exact": -1.0},
    }


def test_output_lines_size_bounds_for_the_registry():
    lines = bench.output_lines(
        _detail({k: 99.999 for k in QUERIES}),
        os.path.join(REPO, "out", "BENCH_DETAIL_c32.json"),
    )
    assert len(lines[0].encode()) < PER_QUERY_LINE_MAX
    assert len(lines[1].encode()) < 1024
    assert len(json.loads(lines[0])["queries"]) == len(QUERIES)
