#!/usr/bin/env python3
"""Interleaved perfbench A/B: a base revision against the working tree.

    python3 scripts/perf_ab.py [--base HEAD~1] [--seeds 10] [--trace 0]

Exports the base revision (``git archive``) and the working tree (its
tracked and untracked, non-ignored files) into two directories under
one temp root, then runs ``perfbench/run.py`` on each, for every
workload in ``BENCHMARK.json`` at its ``run_seconds``, over seeds
1..N: the base first on odd seeds, the change first on even ones, so
drift of the host hits both sides alike. Only the last stdout line of
each run (perfbench's JSON result) is read; the run records perfbench
writes are copied into this checkout's ``.bench_out/`` as
``base-<record>.json`` and ``change-<record>.json``, so
``perfbench/profile_diff.py`` can compare two ``--trace 1`` runs. Per
workload and metric it prints the base and change medians, the base's
interquartile range, the relative change of the medians and the pairs
in which the change was better; "better" is the metric's direction in
``BENCHMARK.json``. Then, from the same records, it prints each
operation's calm median (its median latency over its untraced
executions with the least CPU steal, the rule perfbench applies) and
its cold latency the same way, lower being better. An operation's cold
latency is its mean over the run's set-ups, each of which runs every
operation once on a new session in a shuffled order. A mean, not a
median: the one-time cost of a set-up (such as starting the Python
workers) lands on whichever operation runs first, so a median over
three set-ups would drop it, while the means add up to the cold pass.
They show which operation a ``setup_s`` change came from.
Before committing the change, compare against ``--base HEAD``.

Exits 1 when any run failed, reported ``correct: false`` or failed an
operation.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
RUN_TIMEOUT_S = 600

from perfbench.host import calm  # noqa: E402


def export(rev: str | None, dest: str) -> None:
    """Write ``rev``'s tree, or the working tree when ``rev`` is None,
    to ``dest``."""
    if rev is not None:
        tar = subprocess.run(["git", "-C", ROOT, "archive", rev], check=True,
                             capture_output=True).stdout
        with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
            tf.extractall(dest, filter="data")
        return
    files = subprocess.run(
        ["git", "-C", ROOT, "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        check=True, capture_output=True, text=True,
    ).stdout.split("\0")
    for rel in filter(None, files):
        src = os.path.join(ROOT, rel)
        if os.path.isfile(src):
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))


def run(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    """One perfbench run; its JSON result with the per-operation calm
    medians and cold means of its record under ``"ops"`` and ``"cold"``,
    or None when it printed none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    try:
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"{workload} seed {seed}: timed out after {RUN_TIMEOUT_S} s", file=sys.stderr)
        return None
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        print(proc.stderr[-2000:], file=sys.stderr)
        return None
    rec = os.path.join(checkout, ".bench_out", f"{workload}-seed{seed}-trace{trace}.json")
    with open(rec) as f:
        record = json.load(f)
    res["ops"] = op_medians(record)
    res["cold"] = cold_means(record)
    return res


def op_medians(record: dict) -> dict[str, float]:
    """Each operation's median latency over its untraced executions that
    ``perfbench.host.calm`` keeps."""
    runs: dict[str, list[dict]] = {}
    for ops, traced in zip(record["ops"], record["pass_traced"]):
        for key, s, steal in ([] if traced else ops):
            if s is not None:
                runs.setdefault(key, []).append({"s": s, "steal_pct": steal})
    return {key: statistics.median(r["s"] for r in calm(execs)) for key, execs in runs.items()}


def cold_means(record: dict) -> dict[str, float]:
    """Each operation's mean latency over the run's set-ups."""
    runs: dict[str, list[float]] = {}
    for ops in record["setup_ops"]:
        for key, s in ops:
            if s is not None:
                runs.setdefault(key, []).append(s)
    return {key: statistics.fmean(times) for key, times in runs.items()}


def iqr(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q3 - q1


def report(title: str, rows: dict[str, tuple[list[float], list[float]]],
           better: dict[str, str]) -> None:
    """Per row: the base and change medians, the base IQR, their relative
    change and the pairs in which the change was better."""
    print(f"\n{title}")
    print(f"  {'metric':<26}{'base':>12}{'change':>12}{'base IQR':>12}{'rel':>9}  better")
    for name, (a, b) in rows.items():
        ma, mb = statistics.median(a), statistics.median(b)
        rel = f"{(mb - ma) / ma:+.1%}" if ma else "n/a"
        sign = -1 if better.get(name, "lower") == "lower" else 1
        wins = sum(sign * (y - x) > 0 for x, y in zip(a, b))
        print(f"  {name:<26}{ma:>12.4g}{mb:>12.4g}{iqr(a):>12.3g}{rel:>9}  {wins}/{len(a)}")


def paired(pairs: list[tuple[dict, dict]], get) -> tuple[list[float], list[float]]:
    return [get(p[0]) for p in pairs], [get(p[1]) for p in pairs]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default="HEAD~1", help="git revision to compare against")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}

    root = tempfile.mkdtemp(prefix="perf_ab-")
    sides = {"base": os.path.join(root, "base"), "change": os.path.join(root, "change")}
    ok = True
    try:
        export(args.base, sides["base"])
        export(None, sides["change"])
        for workload in workloads:
            pairs = []
            for seed in range(1, args.seeds + 1):
                order = ["base", "change"] if seed % 2 else ["change", "base"]
                got = {}
                for side in order:
                    res = run(sides[side], workload, seed, bench["run_seconds"], args.trace)
                    good = res is not None and res["correct"] and res["failed"] == 0
                    ok &= good
                    print(f"{workload} seed {seed} {side}: "
                          f"{'ok' if good else 'FAILED'}", file=sys.stderr)
                    got[side] = res
                if all(r is not None for r in got.values()):
                    pairs.append((got["base"], got["change"]))
            if pairs:
                report(f"{workload}: {len(pairs)} pairs",
                       {name: paired(pairs, lambda r: r["metrics"][name]["value"])
                        for name in pairs[0][0]["metrics"]}, better)
                for field, title in (("ops", "calm medians"), ("cold", "cold means")):
                    ops = [k for k in pairs[0][0][field]
                           if all(k in r[field] for p in pairs for r in p)]
                    report(f"{workload}: per-operation {title} (s)",
                           {key: paired(pairs, lambda r: r[field][key]) for key in ops}, {})
        keep = os.path.join(ROOT, ".bench_out")
        for side, checkout in sides.items():
            records = os.path.join(checkout, ".bench_out")
            for name in sorted(os.listdir(records)) if os.path.isdir(records) else []:
                os.makedirs(keep, exist_ok=True)
                shutil.copy2(os.path.join(records, name), os.path.join(keep, f"{side}-{name}"))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
