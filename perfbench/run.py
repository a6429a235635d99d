#!/usr/bin/env python3
"""The graft benchmark: warm, oracle-checked workloads over graft.SparkEntry.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload chain_etl --seed 1 --seconds 18 --trace 0

One run builds the engine from `src/main/scala` plus the harness in
`perfbench/harness` (once per source hash, with the Scala compiler that
ships in Spark's jars), then runs one workload in a fresh JVM:
a check pass that writes every query's output, noop warm-up passes until
pass time stops falling, and timed noop passes for `--seconds`. The check
pass outputs are compared with each query's `SparkEntry.oracleSql` answer
in DuckDB through `tools/check.py`.

Load: one Spark application in one JVM, `local[<cores>]` with as many
shuffle partitions, a closed loop (each query starts after the previous
one ended), no client threads. Data: the sf0.1 tables in
`$PERFBENCH_SF_DIR`, by default the sf0.1 directory TESTDATA.md lists,
read-only. Spark's jars: `$SPARK_HOME/jars`, by default build.sbt's
`unmanagedBase`. `--seed` permutes the query
order within each pass; the engine receives only the data directory.

The last stdout line is one JSON object: `correct`, `attempted`,
`failed` (query executions) and `metrics` -- the end-to-end metrics with
`--trace 0`, the per-layer metrics of the traced run with `--trace 1`.
A traced run also writes its spans and metrics to
`<build dir>/perfbench/traces/<workload>-seed<n>.json`, the input of
`perfbench/layer_diff.py`. The build dir is `$CARGO_TARGET_DIR`, else
`.bench_build`; everything the run writes stays under it.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

WORKLOADS = {
    "chain_etl": [
        "p01_swaps_pipeline", "p04_raydium_pipeline", "q05_multi_join_agg",
    ],
    "stream_ingest": [
        "st08_stream_dedup", "st17_stream_upsert", "st20_stream_asof",
    ],
}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# The parallel collector: G1's concurrent marking, set off at random points
# by the humongous broadcast buffers of the join queries, moved process CPU
# by up to 2x between identical runs. Compiler threads stay alive so the
# harness can take their CPU out of cpu_s. No perf-data file in /tmp: the
# run writes only under the build dir.
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UsePerfData"]
RUN_LIMIT_S = 150


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def repo_setting(path, pattern, env):
    """`env` if set, else the first match of `pattern` in the repo file."""
    if os.environ.get(env):
        return os.environ[env]
    try:
        with open(path) as f:
            return re.search(pattern, f.read()).group(1)
    except (OSError, AttributeError):
        fail(f"set {env}: nothing matching {pattern} in {path}")


def heap():
    """The tier-1 test heap: half the machine's memory, 2 to 8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def build(root, build_dir, jars):
    """Compiles engine + harness into a directory named by their source hash."""
    srcs = []
    for top in ("src/main/scala", "perfbench/harness"):
        for d, _, files in os.walk(os.path.join(root, top)):
            srcs += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    srcs.sort()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(os.path.join(tmp, "sources.txt"), "w") as f:
        f.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", jars, "-d", tmp, "@" + os.path.join(tmp, "sources.txt")],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def oracle_check(root, sf_dir, results, queries):
    """{query: passed} from tools/check.py's DuckDB comparison."""
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    buf, argv = io.StringIO(), sys.argv
    sys.argv = ["check.py", sf_dir, results, *queries]
    try:
        with contextlib.redirect_stdout(buf):
            check.main()
    except SystemExit:
        pass
    finally:
        sys.argv = argv
    verdict = {q: False for q in queries}
    for line in buf.getvalue().splitlines():
        status, _, rest = line.partition(" ")
        name = rest.strip().split(":")[0]
        if name in verdict and status in ("OK", "FAIL"):
            verdict[name] = status == "OK"
        if status == "FAIL":
            print(f"perfbench: {line}", file=sys.stderr)
    return verdict


def run_harness(root, classes, jars, work, args, sf_dir, queries, deadline):
    cores = len(os.sched_getaffinity(0))
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Xmx{heap()}", *JVM_FLAGS, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", os.pathsep.join([classes, os.path.join(root, "src/main/resources"), jars]),
           "perfbench.Harness", "--sf", sf_dir, "--out", work,
           "--queries", ",".join(queries), "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--cores", str(cores),
           "--trace", str(args.trace), "--deadline-ms", str(int(1e3 * (deadline - 10)))]
    launch = time.time()
    with open(os.path.join(work, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {code}")
    with open(os.path.join(work, "harness.json")) as f:
        return json.load(f), 1e3 * launch


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/check.py"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"run from the repository root: {need} is missing")
    sf_dir = repo_setting("TESTDATA.md", r"`([^`]*sf0\.1)/?`", "PERFBENCH_SF_DIR")
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        fail(f"no sf0.1 tables in {sf_dir}")
    spark_home = os.environ.get("SPARK_HOME")
    jars = (os.path.join(spark_home, "jars") if spark_home else
            repo_setting("build.sbt", r'unmanagedBase := file\("([^"]+)"\)', "SPARK_HOME"))
    if not os.path.isdir(jars):
        fail(f"no Spark jars in {jars}")
    jars = os.path.join(jars, "*")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(root, build_dir, jars)

    deadline = time.time() + RUN_LIMIT_S
    queries = WORKLOADS[args.workload]
    work = os.path.join(build_dir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        harness, launch_ms = run_harness(root, classes, jars, work, args, sf_dir, queries,
                                         deadline)
        t_check = time.time()
        verdict = oracle_check(root, sf_dir, os.path.join(work, "results"), queries)
        print(f"perfbench: harness {t_check - launch_ms / 1e3:.1f} s, oracle check "
              f"{time.time() - t_check:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wrong = {q for q, ok in verdict.items() if not ok}
    failed = metrics.failures(harness, wrong)
    if args.trace:
        values, units = metrics.per_layer(harness, wrong), metrics.PER_LAYER
        trace_dir = os.path.join(build_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        spans = harness["trace"]["spans"]
        own = metrics.self_times(spans)
        for s in spans:
            s["self_s"] = own[s["id"]]
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "queries": queries, "wall_s": metrics.end_to_end(harness, wrong, launch_ms)["wall_s"],
                       "per_layer": values, "spans": spans}, f)
    else:
        values, units = metrics.end_to_end(harness, wrong, launch_ms), metrics.END_TO_END
    print(f"perfbench: {args.workload} seed {args.seed}: {harness['warm_passes']} warm-up, "
          f"{harness['timed_passes']} timed passes; order seed {harness['seed']}",
          file=sys.stderr)
    print(json.dumps({
        "correct": not failed and all(verdict.values()),
        "attempted": len(harness["execs"]),
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
