"""The benchmark's arithmetic: latency percentiles with failures, interval
unions, span self time and the per-query layer breakdown. Pure functions
over the harness's trace records, so they can be tested without Spark.

Trace conventions (see perfbench/src/main/scala/perfbench/Harness.scala):
times are epoch milliseconds. A query record has `t = [t0, t1, t2, t3]`:
closure call, closure returned (sink starts), sink finished (release
starts), release finished; `traced` says whether listeners recorded it.
`jobs` rows are [start, end, stages]; `tasks`
rows are [launch, finish, run_ms, cpu_ns, gc_ms, input_bytes,
shuffle_write_bytes, shuffle_write_records, shuffle_read_bytes,
shuffle_read_records, spill_bytes, fetch_wait_ms]; `qes` rows are
[analysis_ms, optimization_ms, planning_ms, plan_nodes, exchanges, kind]
where kind is 1 for the sink's write command, 0 for another execution
and -1 for the analysis of the DataFrame the closure returned.
"""
import math
import statistics

MIB = 1024.0 * 1024.0


def latencies(queries):
    """Per-query latency in seconds; a failed query is +inf."""
    return [math.inf if q.get("error") else (q["t"][3] - q["t"][0]) / 1e3
            for q in queries]


def nearest_rank(p, n):
    """1-based nearest-rank position of percentile p among n samples."""
    return max(1, math.ceil(p / 100.0 * n))


def beyond(p, n):
    """How many of n samples lie above the nearest-rank percentile p."""
    return n - nearest_rank(p, n)


def percentile(values, p):
    """Nearest-rank percentile; +inf sorts last, so failures push it up."""
    s = sorted(values)
    return s[nearest_rank(p, len(s)) - 1]


def union_length(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if not (math.isnan(a) or math.isnan(b)))
    total, end = 0.0, lo
    for a, b in clipped:
        if b <= max(a, end):
            continue
        a = max(a, end)
        total += b - a
        end = b
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it that its children cover."""
    return (end - start) - union_length(children, start, end)


def slot_util(task_ms, wall_ms, slots):
    """Task time over the task time the slots could have run in the wall."""
    return task_ms / (wall_ms * slots) if wall_ms > 0 else 0.0


def breakdown(q, slots):
    """Per-layer values of one traced query (seconds, counts, MiB)."""
    t0, t1, t2, t3 = q["t"]
    jobs = [(j[0], j[1]) for j in q["jobs"]]
    tasks = q["tasks"]
    task_iv = [(t[0], t[1]) for t in tasks]
    qes = q["qes"]
    runs = [e for e in qes if e[5] >= 0]
    final = ([e for e in runs if e[5] == 1] or runs or [[0] * 6])[-1]
    task_ms = sum(union_length([iv], t0, t3) for iv in task_iv)
    col = lambda i: sum(t[i] for t in tasks)
    return {
        "compile.wall_s": (t1 - t0) / 1e3,
        "compile.self_s": self_time(t0, t1, jobs) / 1e3,
        "compile.eager_jobs": sum(1 for a, _ in jobs if t0 <= a < t1),
        "sink.wall_s": (t2 - t1) / 1e3,
        "sink.self_s": self_time(t1, t2, jobs) / 1e3,
        "catalyst.analysis_s": sum(e[0] for e in qes) / 1e3,
        "catalyst.optimization_s": sum(e[1] for e in qes) / 1e3,
        "catalyst.planning_s": sum(e[2] for e in qes) / 1e3,
        "catalyst.plan_nodes": final[3],
        "catalyst.exchanges": final[4],
        "scheduler.jobs": len(jobs),
        "scheduler.stages": q["stages"],
        "scheduler.tasks": len(tasks),
        "scheduler.no_task_s": self_time(t0, t3, task_iv) / 1e3,
        "scheduler.slot_util": slot_util(task_ms, t3 - t0, slots),
        "executor.task_s": col(2) / 1e3,
        "executor.cpu_s": col(3) / 1e9,
        "executor.gc_s": col(4) / 1e3,
        "executor.input_mb": col(5) / MIB,
        "shuffle.write_mb": col(6) / MIB,
        "shuffle.records": col(7),
        "shuffle.read_mb": col(8) / MIB,
        "shuffle.spill_mb": col(10) / MIB,
        "shuffle.fetch_wait_s": col(11) / 1e3,
        "llm.cache_frames": q["cache_frames"],
        "llm.cache_mb": q["cache_bytes"] / MIB,
        "llm.release_s": (t3 - t2) / 1e3,
    }


def span_parts_match(q, tol_ms=1e-6):
    """The closure, sink and release spans tile the query span exactly."""
    t0, t1, t2, t3 = q["t"]
    parts = (t1 - t0) + (t2 - t1) + (t3 - t2)
    return t0 <= t1 <= t2 <= t3 and abs(parts - (t3 - t0)) <= tol_ms


def trace_overhead(queries):
    """Traced ÷ untraced latency of the same query, minus 1. A traced loop
    runs each query as two consecutive executions, one of them traced, and
    alternates which goes first. The second execution of a pair is faster
    whichever it is, so the ratios split in two groups by order; the
    geometric mean of the two groups' medians cancels that factor. A pair
    with a failure is skipped."""
    by_order = {True: [], False: []}
    for a, b in zip(queries[0::2], queries[1::2]):
        t, u = latencies([a, b] if a["traced"] else [b, a])
        if math.inf not in (t, u) and u > 0:
            by_order[a["traced"]].append(t / u)
    medians = [statistics.median(r) for r in by_order.values() if r]
    if not medians:
        return math.inf
    return math.prod(medians) ** (1.0 / len(medians)) - 1.0


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(loop, tail_p):
    """Throughput, latency median and tail, and CPU per completed query of
    one closed loop. Failures count as attempted and as +inf latency; a
    metric that lands on a failure stays +inf. The median interpolates: a
    run repeats each query of a deck, so the two middle samples often
    belong to two different queries, and the nearest rank would jump
    between them from run to run."""
    qs = loop["queries"]
    lat = latencies(qs)
    done = sum(1 for x in lat if x != math.inf)
    return {
        "attempted": len(qs),
        "failed": len(qs) - done,
        "throughput_qps": done / loop["wall_s"],
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": percentile(lat, tail_p),
        "cpu_s_per_query": loop["cpu_s"] / done if done else math.inf,
    }
