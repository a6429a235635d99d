"""Statistics and metric definitions for the benchmark, as pure functions
over the harness's result JSON (see harness/Harness.scala)."""
import math

END_TO_END = {
    "wall_s": "s",
    "geomean_s": "s",
    "cpu_s": "s",
    "retained_heap_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "entry.build_s": "s",
    "entry.materialize_s": "s",
    "entry.cleanup_s": "s",
    "driver.gap_s": "s",
    "planning.analysis_s": "s",
    "planning.optimization_s": "s",
    "planning.physical_s": "s",
    "planning.executions": "count",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.task_failures": "count",
    "scheduler.task_skew_max": "ratio",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.cpu_util": "ratio",
    "sources.files_read": "count",
    "sources.bytes_read": "bytes",
    "sources.records_read": "count",
    "sources.scan_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.records_read": "count",
    "shuffle.write_s": "s",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mem_bytes": "bytes",
    "shuffle.spill_disk_bytes": "bytes",
    "operators.join_rows_in": "count",
    "operators.join_rows_out": "count",
    "operators.join_selectivity": "ratio",
    "operators.runtime_filters": "count",
    "operators.broadcast_bytes": "bytes",
    "streaming.runs": "count",
    "streaming.batches": "count",
    "streaming.empty_batches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_s": "s",
    "streaming.empty_batch_s": "s",
    "streaming.wal_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_commit_s": "s",
    "streaming.state_memory_bytes": "bytes",
    "streaming.outside_batch_s": "s",
    "streaming.batch_p50_ms": "ms",
    "streaming.batch_p90_ms": "ms",
    "sinks.writes": "count",
    "sinks.write_s": "s",
    "sinks.task_commit_s": "s",
    "sinks.job_commit_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.records_written": "count",
    "storage.rdd_block_bytes": "bytes",
}


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no values")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    values at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(p / 100 * len(s)))
    return s[rank - 1]


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def failures(harness, wrong):
    """Failed operations: an execution that threw, and every execution of a
    query whose checked output disagreed with its oracle (`wrong`)."""
    return [e for e in harness["execs"] if e["error"] or e["query"] in wrong]


def timed_passes(harness, wrong):
    """{pass: [execution, ...]} of the timed passes, failed ones left out."""
    bad = {id(e) for e in failures(harness, wrong)}
    passes = {}
    for e in harness["execs"]:
        if e["phase"] == "timed":
            passes.setdefault(e["pass"], [])
            if id(e) not in bad:
                passes[e["pass"]].append(e)
    return passes


def end_to_end(harness, wrong, launch_ms):
    passes = timed_passes(harness, wrong)
    per_query = {}
    for execs in passes.values():
        for e in execs:
            per_query.setdefault(e["query"], []).append(e["wall_s"])
    walls = [sum(e["wall_s"] for e in execs) for execs in passes.values() if execs]
    cpus = [sum(e["cpu_s"] for e in execs) for execs in passes.values() if execs]
    return {
        "wall_s": median(walls) if walls else 0.0,
        "geomean_s": geomean([median(v) for v in per_query.values()]) if per_query else 0.0,
        "cpu_s": median(cpus) if cpus else 0.0,
        "retained_heap_mb": harness["retained_heap_mb"],
        "setup_s": (harness["first_timed_ms"] - launch_ms) / 1e3,
    }


def union_ms(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= reach:
            continue
        total += e - max(s, reach)
        reach = e
    return total


def self_times(spans):
    """Each span's duration minus the part of it its children cover, in s."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {
        s["id"]: (s["end_ms"] - s["start_ms"]
                  - union_ms(kids.get(s["id"], []), s["start_ms"], s["end_ms"])) / 1e3
        for s in spans
    }


def per_layer(harness, wrong):
    """Per-layer metrics of the timed passes: each a median over passes of
    the pass's sum (skew: the pass's maximum), from the traced run."""
    trace = harness["trace"]
    spans = {s["id"]: s for s in trace["spans"]}
    children = {}
    for s in trace["spans"]:
        children.setdefault(s["parent"], []).append(s)
    counters = trace["counters"]
    cores = harness["cores"]
    passes = timed_passes(harness, wrong)
    batch_ms = []
    rows = []
    for p, execs in sorted(passes.items()):
        m = dict.fromkeys(PER_LAYER, 0.0)
        wall = 0.0
        for e in execs:
            key = f"timed:{p}:{e['query']}"
            wall += e["wall_s"]
            m["entry.build_s"] += e["build_s"]
            m["entry.materialize_s"] += e["materialize_s"]
            m["entry.cleanup_s"] += e["cleanup_s"]
            q = spans[key]
            run_end = q["start_ms"] + 1e3 * e["wall_s"]
            kids = children.get(key, [])
            jobs = [(k["start_ms"], k["end_ms"]) for k in kids if k["name"] == "spark.job"]
            m["driver.gap_s"] += (1e3 * e["wall_s"] - union_ms(jobs, q["start_ms"], run_end)) / 1e3
            batch_ms += [k["end_ms"] - k["start_ms"] for k in kids if k["name"] == "streaming.batch"]
            c = counters.get(key, {})
            for name, v in c.items():
                if name == "scheduler.task_skew_max":
                    m[name] = max(m[name], v)
                elif name in m:
                    m[name] += v
            if c.get("streaming.runs"):
                m["streaming.outside_batch_s"] += e["wall_s"] - c.get("streaming.trigger_s", 0.0)
        m["executor.cpu_util"] = m["executor.cpu_s"] / (wall * cores) if wall else 0.0
        m["operators.join_selectivity"] = (
            m["operators.join_rows_out"] / m["operators.join_rows_in"]
            if m["operators.join_rows_in"] else 0.0)
        rows.append(m)
    out = {name: median([r[name] for r in rows]) if rows else 0.0 for name in PER_LAYER}
    out["streaming.batch_p50_ms"] = percentile(batch_ms, 50) if batch_ms else 0.0
    out["streaming.batch_p90_ms"] = percentile(batch_ms, 90) if batch_ms else 0.0
    return out
