#!/usr/bin/env python3
"""Layered benchmark of graft, the Spark semantic layer.

Usage, from the repository root:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness (once per source state), prepares the
inputs, runs one closed-loop benchmark in a fresh JVM, checks every distinct
query's output against its DuckDB oracle, prints one line per metric and,
last, one JSON object. `--trace 0` reports the end-to-end metrics, `--trace
1` the per-layer metrics. Exit code 0 only when every check passed.

Session: Spark local[N] with N = min(nproc, 4), spark.sql.shuffle.partitions
= N, UTC, UI off, GraftExtensions, a fixed heap (HEAP, with a fixed young
generation so peak RSS follows retained memory more than GC timing) and
spark.local.dir inside the run's work dir.

Workloads (one client thread, closed loop; the seed draws the query order):
  bi_dashboard      semantic-layer queries at sf0.1, fixed per-query cost
  llm_pipeline      expensive serve rows at sf0.1: eager jobs, shuffles,
                    a persisted model built cold in set-up, cache builds

The loop runs decks: a deck runs every query of the pool once, in an order
drawn from the seed, so repeats come from deck after deck and every run has
the same query mix. The harness runs whole decks for about --seconds, and
enough of them to execute each query at least twice.
"""
import argparse
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

import duckdb

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SF01 = os.path.join(HERE, "data", "sf0.1")
COMPARE = os.path.join(ROOT, "tools", "compare.py")
ORACLE_CACHE = os.path.join(WORK, "oracle.duckdb")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HEAP = "3g"
CORES = min(os.cpu_count() or 1, 4)
RUN_TIMEOUT_S = 160
SENTINEL_INF = 1e9  # JSON has no +inf; a latency that is +inf prints as this
INJECTED = "perfbench_injected_failure"  # Harness.Injected: always throws

# Semantic-layer tiles of SURVEY §2: scans, a sort with offset, the TPC-H Q1
# aggregate, a date-granularity group, a join chain, a window, a cube, and
# the activity family (retention, funnel). Fixture-writing queries (csv,
# json, xlsx, orc, warc sources) are left out: dashboard tiles do not build
# files. The pool is kept small because each distinct query costs a cold
# call in every run's set-up.
BI_POOL = [
    "q_scan_pick", "q_sort_limit", "q1_agg", "q_granularity", "q_join_chain",
    "q_window_calc", "q_cube", "q_retention", "q_funnel",
]

# Expensive serve rows: the Kneser-Ney n-gram LM (eager fit jobs, large
# plans), OPQ ANN serving from the persisted OPQ model that the cold pass
# builds in set-up, MinHash candidate pairs and dedup clusters (cache
# builds, shuffles).
LLM_POOL = ["q_lm_kn", "q_ann_opq", "q_dedup_minhash", "q_dedup_clusters"]

WORKLOADS = {"bi_dashboard": BI_POOL, "llm_pipeline": LLM_POOL}
# The percentile reported as latency_tail_s. A run measures two or three
# decks (18 to 27 queries on bi_dashboard, 8 to 12 on llm_pipeline), too
# few for a high percentile with 10 samples beyond it, so a fixed
# percentile is reported and the log states how many samples lie beyond.
# p90 spread least from run to run (quartile distance over median, ten
# seeds on a 4-core host): 0.19 on bi_dashboard and 0.10 on llm_pipeline,
# against 0.20 and 0.26 for p75, which falls between two queries' samples.
TAIL_P = 90
# Decks drawn for a run; the harness stops long before it runs out.
DRAWN_DECKS = 200

END_TO_END = [  # name, unit
    ("throughput_qps", "1/s"), ("latency_p50_s", "s"),
    ("latency_tail_s", "s"), ("cpu_s_per_query", "s"),
    ("peak_rss_mb", "MiB"), ("setup_s", "s"),
]
PER_LAYER = [
    ("compile.wall_s", "s"), ("compile.self_s", "s"),
    ("compile.eager_jobs", "count"), ("sink.wall_s", "s"),
    ("sink.self_s", "s"), ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("catalyst.plan_nodes", "count"), ("catalyst.exchanges", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.no_task_s", "s"),
    ("scheduler.slot_util", "ratio"), ("executor.task_s", "s"),
    ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.input_mb", "MiB"), ("shuffle.write_mb", "MiB"),
    ("shuffle.read_mb", "MiB"), ("shuffle.records", "count"),
    ("shuffle.spill_mb", "MiB"), ("shuffle.fetch_wait_s", "s"),
    ("llm.cache_frames", "count"), ("llm.cache_mb", "MiB"),
    ("llm.release_s", "s"), ("setup.session_s", "s"),
    ("setup.fixture_s", "s"), ("trace_overhead", "ratio"),
]

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat. Steal
    is time the hypervisor gave this VM's CPUs to others: it slows every
    timing of a run alike, so it is logged next to the results."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "project", "build.properties"),
                 os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")]:
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS=spark_jars())
    opts = ["-Dsbt.offline=true", "-Xmx1g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the program with its own build, then the harness against
    its classes. Skipped when no source changed since the last build."""
    classes = [os.path.join(ROOT, "target", "scala-2.13", "classes"),
               os.path.join(HERE, "target", "scala-2.13", "classes")]
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if all(os.path.isdir(c) for c in classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    for cwd in (ROOT, HERE):
        log(f"building {os.path.relpath(cwd, ROOT) or '.'}")
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd=cwd, env=sbt_env(), stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            fail(f"build failed in {cwd}")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def spark_jars():
    """The Spark jars dir, as the program's build.sbt names it."""
    with open(os.path.join(ROOT, "build.sbt"), encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("build.sbt names no unmanagedBase Spark jars dir")
    return m.group(1)


def classpath(classes):
    return os.pathsep.join(classes + [os.path.join(spark_jars(), "*")])


def java(cp, args, cwd, timeout):
    """Run the harness JVM in its own process group; kill the group when
    it overruns, and always wait for it."""
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness"] + args)
    proc = subprocess.Popen(cmd, cwd=cwd, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        fail(f"harness exceeded {timeout:.0f} s")
    if proc.returncode != 0:
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        fail(f"harness exited with {proc.returncode}")


# ---------------------------------------------------------------- inputs

def copy_data(src, dst):
    """A private copy of the data dir (hard links where possible): the
    program keys its memoized fixtures by data dir, so a new dir name makes
    every fixture build cold in this run's set-up."""
    def link(s, d):
        try:
            os.link(s, d)
        except OSError:
            shutil.copy2(s, d)
    shutil.copytree(src, dst, copy_function=link)


def fixture_root():
    """Where the program writes memoized fixtures: the first absolute
    `.../target/fixtures` literal in SparkEntry, else the checkout's."""
    with open(os.path.join(ROOT, "src", "main", "scala", "graft",
                           "SparkEntry.scala"), encoding="utf-8") as f:
        m = re.search(r'"(/[^"]*/target/fixtures)', f.read())
    return m.group(1) if m else os.path.join(ROOT, "target", "fixtures")


class FixtureCleanup:
    """Deletes the fixtures this run created: entries under the fixture
    root (and its idx/) whose names carry this run's data-dir key, plus the
    fixture directories the run had to create, if left empty."""

    def __init__(self, data_dir):
        self.key = re.sub(r"[^A-Za-z0-9]", "_", data_dir)
        self.root = fixture_root()
        self.created = []
        d = self.root
        while not os.path.exists(d):
            self.created.append(d)
            d = os.path.dirname(d)

    def __call__(self):
        for base in (os.path.join(self.root, "idx"), self.root):
            if not os.path.isdir(base):
                continue
            for name in os.listdir(base):
                if self.key in name:
                    p = os.path.join(base, name)
                    if os.path.isdir(p) and not os.path.islink(p):
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        os.remove(p)
        if self.created:
            idx = os.path.join(self.root, "idx")
            for d in [idx] + self.created:
                try:
                    os.rmdir(d)
                except OSError:
                    pass


def draw_decks(pool, workload, seed, n):
    rng = random.Random(f"{workload}/{seed}")
    decks = []
    for _ in range(n):
        deck = list(pool)
        rng.shuffle(deck)
        decks.append(deck)
    return decks


# ---------------------------------------------------------------- oracle

def cache_oracles(results_dir):
    """Store each oracle's DuckDB result once per SQL text and input data,
    in a table of a DuckDB file in the work dir, and point the run's
    oracle_sql.json at those tables. The inputs are fixed, so an oracle's
    result is too; on a 4-core host the llm_pipeline oracles took 14.7 s,
    against 18 s for that run's timed loop. DuckDB's own storage keeps
    every column type that compare.py checks. An oracle that fails keeps its
    SQL, so compare.py reports the failure."""
    path = os.path.join(results_dir, "oracle_sql.json")
    with open(path) as f:
        sqls = json.load(f)
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(SF01, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    data_key = h.hexdigest()
    tables = {n: "oracle_" + hashlib.sha256(
        (data_key + sql).encode()).hexdigest()[:32] for n, sql in sqls.items()}
    con = duckdb.connect(ORACLE_CACHE)
    try:
        stored = lambda: {r[0] for r in con.execute(
            "SELECT table_name FROM duckdb_tables()").fetchall()}
        missing = {n: t for n, t in tables.items() if t not in stored()}
        if missing:
            for t in TABLES:
                con.execute(f"CREATE OR REPLACE TEMP VIEW {t} AS SELECT * "
                            f"FROM read_parquet('{SF01}/{t}.parquet')")
        for n, t in missing.items():
            try:
                con.execute(f"CREATE TABLE {t} AS {sqls[n]}")
            except duckdb.Error:
                pass
        have = stored()
    finally:
        con.close()
    with open(path, "w") as f:
        json.dump({n: f"ATTACH IF NOT EXISTS '{ORACLE_CACHE}' AS oracle_cache "
                      f"(READ_ONLY); SELECT * FROM oracle_cache.{tables[n]}"
                   if tables[n] in have else sql
                   for n, sql in sqls.items()}, f)
    return sqls


def oracle_check(data_dir, results_dir, names):
    """Compare each query's result with its DuckDB oracle on the same input
    data, with tools/compare.py. Returns {name: None if it matches, else the
    reason}."""
    has_oracle = cache_oracles(results_dir)
    r = subprocess.run(
        [sys.executable, COMPARE, data_dir, results_dir, *names],
        stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=100)
    verdicts = {}
    for line in r.stdout.splitlines():  # "PASS name (N rows)", "FAIL name: why"
        verdict, name, why = (line.split(" ", 2) + ["", ""])[:3]
        name = name.rstrip(":")
        if verdict in ("PASS", "FAIL") and name in names:
            verdicts[name] = None if verdict == "PASS" else why
    for name in names:
        if name not in verdicts:
            verdicts[name] = ("no oracle SQL" if name not in has_oracle else
                              f"not checked (compare.py exited {r.returncode}: "
                              f"{r.stderr.strip()[-300:]})")
    return verdicts


# ---------------------------------------------------------------- report

def report(workload, trace, verdicts, traced, trace_path):
    """Metrics of one run plus the correctness verdict. Wrong-result
    queries count as failed, like throwing ones."""
    loop = trace["loop"]
    wrong = {n for n, v in verdicts.items() if v}
    timed = loop["queries"]
    attempted = len(timed)
    failed = sum(1 for q in timed if q.get("error") or q["name"] in wrong)
    spans_ok = all(metrics.span_parts_match(q) for q in timed)
    cold_failed = [c["name"] for c in trace["cold"] if c["error"]]
    correct = not wrong and failed == 0 and spans_ok and not cold_failed

    for n, v in sorted(verdicts.items()):
        log(f"oracle {'PASS' if v is None else 'FAIL'} {n}"
            + ("" if v is None else f": {v}"))
    for c in trace["cold"]:
        if c["error"]:
            log(f"cold call of {c['name']} failed: {c['error']}")
    for q in timed:
        if q.get("error"):
            log(f"timed {q['name']} failed: {q['error']}")
    if not spans_ok:
        log("span parts do not add up to a query's latency")

    setup = trace["setup"]
    log("set-up: " + ", ".join(f"{k} {v:.2f}" for k, v in setup.items()))
    measured = [q for q in timed if q["traced"]] if traced else timed
    rows = [metrics.breakdown(q, trace["cores"]) if traced else {}
            for q in measured]
    if not traced:
        values = dict(metrics.end_to_end(loop, TAIL_P),
                      peak_rss_mb=trace["peak_rss_mb"],
                      setup_s=setup["setup_s"])
        names = END_TO_END
    else:
        values = {k: metrics.mean(r[k] for r in rows)
                  for k, _ in PER_LAYER if rows and k in rows[0]}
        values.update({f"setup.{k}": setup[k]
                       for k in ("session_s", "fixture_s")})
        values["trace_overhead"] = metrics.trace_overhead(timed)
        names = PER_LAYER
    with open(trace_path, "w") as f:
        json.dump({"workload": workload, "setup": setup,
                   "queries": [dict(name=q["name"], deck=q["deck"], t=q["t"],
                                    cpu_s=q["cpu_s"], error=q["error"], **r)
                               for q, r in zip(measured, rows)]}, f, indent=1)
    log(f"per-query rows: {os.path.relpath(trace_path, ROOT)}")

    out = {}
    print(f"workload {workload}: {loop['decks']} decks, {attempted} queries "
          f"attempted, {failed} failed, error_rate {failed / attempted:.4f} ratio, "
          f"{len(verdicts)} distinct outputs checked"
          + ("" if traced else
             f", latency_tail_s is p{TAIL_P} "
             f"({metrics.beyond(TAIL_P, len(timed))} samples beyond it)"))
    for name, unit in names:
        v = values[name]
        if v == math.inf:
            v = SENTINEL_INF
        out[name] = {"value": v, "unit": unit}
        print(f"{name} {v:.6g} {unit}")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": out}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="add a query that throws, to test the accounting")
    a = ap.parse_args()

    for need in [os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala", "graft"), COMPARE,
                 *(os.path.join(SF01, f"{t}.parquet") for t in TABLES)]:
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from a full "
                 "checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = classpath(build())

    pool = WORKLOADS[a.workload] + ([INJECTED] if a.inject_failure else [])
    decks = draw_decks(pool, a.workload, a.seed, DRAWN_DECKS)
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(WORK, "runs", run_id)
    data_dir = os.path.join(run_dir, "data_sf0.1")
    os.makedirs(run_dir)
    cleanup = FixtureCleanup(data_dir)
    try:
        copy_data(SF01, data_dir)
        plan = os.path.join(run_dir, "plan.txt")
        with open(plan, "w") as f:
            f.write(" ".join(sorted(pool)) + "\n")
            f.writelines(" ".join(d) + "\n" for d in decks)
        t_start, steal0 = time.time(), cpu_ticks()
        java(cp, ["--data", data_dir, "--plan", plan, "--out", run_dir,
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--cores", str(CORES)],
             run_dir, RUN_TIMEOUT_S)
        with open(os.path.join(run_dir, "trace.json")) as f:
            trace = json.load(f)
        t_jvm = time.time()
        verdicts = oracle_check(data_dir, os.path.join(run_dir, "results"),
                                sorted(pool))
        steal, total = (b - a for a, b in zip(steal0, cpu_ticks()))
        log(f"harness JVM {t_jvm - t_start:.1f} s, oracle check "
            f"{time.time() - t_jvm:.1f} s, the hypervisor took "
            f"{100.0 * steal / max(total, 1):.1f}% of the CPU during the run")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces",
                                  f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        result = report(a.workload, trace, verdicts, a.trace == 1, trace_path)
    finally:
        cleanup()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
