#!/usr/bin/env python3
"""Rank per-layer metrics by how much they moved between two profiles.

    python3 perfbench/profile_diff.py BEFORE.json AFTER.json [--repeat]

BEFORE and AFTER are two run records of one workload, written by
``run.py --trace 1`` to ``.bench_out/``. It prints every metric that
moved, ordered by relative change, then the operations whose own
layers moved most.

``--repeat`` also checks that the count metrics that must be
deterministic (``layers.REPEATABLE``) read exactly the same on both
sides, and exits 1 if any differs: run it on two traced runs of the
same code and seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.layers import REPEATABLE  # noqa: E402

# operation rows printed, largest move first
OP_ROWS = 12


def per_op(record: dict) -> dict[tuple[str, str], float]:
    """(operation, layer) -> median over the record's traced passes of
    the operation's summed layer value within a pass."""
    samples: dict[tuple[str, str], list[float]] = {}
    for ops in record.get("per_op_layers", []):
        summed: dict[tuple[str, str], float] = {}
        for op in ops:
            for layer, v in op.items():
                if layer != "key":
                    summed[(op["key"], layer)] = summed.get((op["key"], layer), 0.0) + v
        for k, v in summed.items():
            samples.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in samples.items()}


def moved(a: dict, b: dict) -> list[tuple[float, object, float, float]]:
    """(relative change, key, a, b) of the keys that changed, largest
    first; the relative change is |b - a| over the larger magnitude, so
    it lies in (0, 1]."""
    rows = []
    for k in a.keys() & b.keys():
        va, vb = a[k], b[k]
        if va != vb:
            rows.append((abs(vb - va) / max(abs(va), abs(vb)), k, va, vb))
    return sorted(rows, key=lambda r: (-r[0], str(r[1])))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--repeat", action="store_true")
    args = ap.parse_args()
    with open(args.before) as f:
        before = json.load(f)
    with open(args.after) as f:
        after = json.load(f)
    if before["workload"] != after["workload"]:
        print(f"different workloads: {before['workload']} vs {after['workload']}", file=sys.stderr)
        return 2
    a, b = before["metrics"], after["metrics"]
    print(f"== {before['workload']}  (seed {before['seed']} vs {after['seed']})")
    print(f"  {'metric':28s} {'before':>14s} {'after':>14s} {'change':>8s}")
    for rel, k, va, vb in moved(a, b):
        sign = "+" if vb >= va else "-"
        print(f"  {k:28s} {va:14.4f} {vb:14.4f} {sign}{100 * rel:6.1f}%")
    ops = moved(per_op(before), per_op(after))
    if ops:
        print("  operations whose layers moved most:")
        for rel, (op, layer), va, vb in ops[:OP_ROWS]:
            print(f"    {op + ' ' + layer:60s} {va:12.4f} -> {vb:12.4f}")
    unstable = [f"{k}: {a[k]} vs {b[k]}" for k in REPEATABLE if k in a and k in b and a[k] != b[k]]
    if args.repeat:
        for line in unstable:
            print(f"NOT REPEATED {line}")
    return 1 if args.repeat and unstable else 0


if __name__ == "__main__":
    sys.exit(main())
