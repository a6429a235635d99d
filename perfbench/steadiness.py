#!/usr/bin/env python3
"""Steadiness check of the benchmark: repeated runs with different seeds.

Usage (from the root of the repository):

    python3 perfbench/steadiness.py --runs 10 --sets 2 --out perfbench/steadiness.json

For every workload in BENCHMARK.json, each set makes `--runs` untraced
runs, each with another seed, then one traced run. For every end-to-end
metric x workload the record holds per set the median, quartiles
(`statistics.quantiles(values, n=4)`), min, max, the spread
(q3 - q1) / median, and the bound from BENCHMARK.json; across sets, the
change of the median as a share of the first set's median. The tracing
overhead is the traced run's wall_s over the set's untraced median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{' '.join(cmd)} exited with {r.returncode}")
    out = json.loads(r.stdout.strip().splitlines()[-1])
    out["elapsed_s"] = time.time() - t0
    print(f"{workload} seed {seed} trace {trace}: {time.time() - t0:.1f} s "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()
                     if trace == 0 or k in ("sinks.writes", "streaming.batches")),
          file=sys.stderr, flush=True)
    return out


def summary(values, bound):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "min": min(values), "max": max(values),
            "spread": (q3 - q1) / statistics.median(values), "bound": bound,
            "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", default="perfbench/steadiness.json")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    record = {"runs_per_set": args.runs, "run_seconds": bench["run_seconds"],
              "cores": len(os.sched_getaffinity(0)), "workloads": {}}
    seed = args.first_seed
    for w in workloads:
        sets = []
        for _ in range(args.sets):
            runs = []
            for _ in range(args.runs):
                runs.append(run(w, seed, bench["run_seconds"], 0))
                seed += 1
            traced = run(w, seed, bench["run_seconds"], 1)
            with open(os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                                   "perfbench", "traces", f"{w}-seed{seed}.json")) as f:
                traced_wall = json.load(f)["wall_s"]
            seed += 1
            per_metric = {m: summary([r["metrics"][m]["value"] for r in runs], bounds[m])
                          for m in bounds}
            sets.append({
                "metrics": per_metric,
                "attempted": sum(r["attempted"] for r in runs),
                "failed": sum(r["failed"] for r in runs),
                "all_correct": all(r["correct"] for r in runs) and traced["correct"],
                "run_elapsed_s": summary([r["elapsed_s"] for r in runs], None),
                "traced_wall_s": traced_wall,
                "tracing_overhead": traced_wall / per_metric["wall_s"]["median"],
            })
        entry = {"sets": sets}
        if len(sets) > 1:
            entry["median_shift"] = {
                m: sets[-1]["metrics"][m]["median"] / sets[0]["metrics"][m]["median"] - 1
                for m in bounds}
        record["workloads"][w] = entry
        with open(args.out, "w") as f:
            json.dump(record, f, indent=1)
    for w, entry in record["workloads"].items():
        for i, s in enumerate(entry["sets"]):
            print(f"{w} set {i + 1}: tracing overhead {s['tracing_overhead']:.3f}, "
                  f"{s['failed']}/{s['attempted']} failed")
            for m, v in s["metrics"].items():
                print(f"  {m:18} median {v['median']:10.4f}  spread {v['spread']:.3f}"
                      f"  (bound {v['bound']})")
        for m, d in entry.get("median_shift", {}).items():
            print(f"  shift {m:18} {d:+.3f}")


if __name__ == "__main__":
    main()
