#!/usr/bin/env python3
"""Per-layer before/after of two traced benchmark outputs.

Usage: python3 perfbench/layer_diff.py BEFORE AFTER

BEFORE and AFTER are each a trace file written by `run.py --trace 1`
(`<build dir>/perfbench/traces/<workload>-seed<n>.json`) or a directory of
them. Files of the same workload are pooled by taking each metric's median.
For every workload present on both sides and every per-layer metric, prints
before, after, and the ratio after/before with its base (the before value).
"""
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from metrics import PER_LAYER, median  # noqa: E402


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        with open(f) as fh:
            t = json.load(fh)
        runs.setdefault(t["workload"], []).append({**t["per_layer"], "wall_s": t["wall_s"]})
    return {w: {m: median([r[m] for r in rs]) for m in rs[0]} for w, rs in runs.items()}


def ratio(before, after):
    if before == 0:
        return "=" if after == 0 else "new"
    return f"{after / before:.3f}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(before) & set(after)):
        print(f"== {w}")
        print(f"{'metric':32} {'unit':6} {'before':>14} {'after':>14} {'after/before':>12}")
        for m in ["wall_s", *PER_LAYER]:
            b, a = before[w][m], after[w][m]
            print(f"{m:32} {PER_LAYER.get(m, 's'):6} {b:14.6g} {a:14.6g} {ratio(b, a):>12}")
    for w in sorted(set(before) ^ set(after)):
        print(f"== {w}: only in {'before' if w in before else 'after'}")


if __name__ == "__main__":
    main()
