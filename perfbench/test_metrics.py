"""Tests of the benchmark's own arithmetic and failure accounting.

  python3 perfbench/test_metrics.py

Set PERFBENCH_E2E=1 to also run the benchmark once with an injected
throwing query (builds the program on first use; takes about a minute).
"""
import io
import json
import math
import os
import subprocess
import sys
import unittest
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402
import run  # noqa: E402


def query(name="q", t=(0, 100, 400, 410), error=None, jobs=(), tasks=(),
          qes=(), stages=0, frames=0, cache_bytes=0, traced=False):
    return {"name": name, "deck": 0, "traced": traced, "t": list(t),
            "error": error,
            "jobs": [list(j) for j in jobs], "tasks": [list(x) for x in tasks],
            "qes": [list(e) for e in qes], "stages": stages,
            "cache_frames": frames, "cache_bytes": cache_bytes, "cpu_s": 0}


def task(launch, finish, run_ms=0, cpu_ns=0):
    return [launch, finish, run_ms, cpu_ns, 0, 0, 0, 0, 0, 0, 0, 0]


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [float(i) for i in range(1, 11)]
        self.assertEqual(metrics.percentile(xs, 50), 5.0)
        self.assertEqual(metrics.percentile(xs, 90), 9.0)
        self.assertEqual(metrics.percentile(xs, 91), 10.0)
        self.assertEqual(metrics.percentile([3.0], 99), 3.0)

    def test_failures_sort_last_and_are_kept(self):
        lat = metrics.latencies([query(t=(0, 1, 2, 1000)),
                                 query(error="boom"), query(error="boom")])
        self.assertEqual(lat[0], 1.0)
        self.assertEqual(metrics.percentile(lat, 50), math.inf)

    def test_beyond_counts_samples_above_the_percentile(self):
        self.assertEqual(metrics.beyond(75, 18), 4)
        self.assertEqual(metrics.beyond(74, 39), 10)
        self.assertEqual(metrics.beyond(90, 8), 0)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 20)], 0, 100), 20)
        self.assertEqual(metrics.union_length([(0, 10), (30, 40)], 0, 100), 20)
        self.assertEqual(metrics.union_length([(-5, 10)], 0, 100), 10)
        self.assertEqual(metrics.union_length([(90, 150)], 0, 100), 10)

    def test_union_ignores_intervals_outside_the_window(self):
        self.assertEqual(metrics.union_length([(150, 160)], 0, 100), 0)
        self.assertEqual(metrics.union_length([(-20, -10)], 0, 100), 0)
        self.assertEqual(
            metrics.union_length([(10, 20), (200, 300)], 0, 100), 10)

    def test_union_skips_unfinished(self):
        self.assertEqual(
            metrics.union_length([(10, float("nan"))], 0, 100), 0)

    def test_self_time(self):
        self.assertEqual(metrics.self_time(0, 100, []), 100)
        self.assertEqual(metrics.self_time(0, 100, [(10, 30), (20, 50)]), 60)
        self.assertEqual(metrics.self_time(0, 100, [(0, 100), (5, 6)]), 0)
        self.assertEqual(metrics.self_time(0, 100, [(120, 130)]), 100)

    def test_slot_util(self):
        self.assertEqual(metrics.slot_util(400, 100, 4), 1.0)
        self.assertEqual(metrics.slot_util(100, 100, 4), 0.25)
        self.assertEqual(metrics.slot_util(10, 0, 4), 0.0)


class BreakdownTest(unittest.TestCase):
    def test_layers_of_one_query(self):
        q = query(
            t=(1000, 1100, 1400, 1410),
            jobs=[(1020, 1050, 1), (1150, 1350, 2)],
            tasks=[task(1020, 1050, 30, 20e6), task(1150, 1350, 200, 150e6),
                   task(1150, 1250, 100, 90e6)],
            qes=[(7, 0, 0, 0, 0, -1), (1, 2, 3, 10, 1, 0),
                 (0, 4, 5, 30, 3, 1)],
            stages=3, frames=2, cache_bytes=3 * metrics.MIB)
        b = metrics.breakdown(q, 4)
        self.assertAlmostEqual(b["compile.wall_s"], 0.1)
        self.assertAlmostEqual(b["compile.self_s"], 0.07)
        self.assertEqual(b["compile.eager_jobs"], 1)
        self.assertAlmostEqual(b["sink.self_s"], 0.1)
        self.assertAlmostEqual(b["catalyst.analysis_s"], 0.008)
        self.assertAlmostEqual(b["catalyst.optimization_s"], 0.006)
        self.assertAlmostEqual(b["catalyst.planning_s"], 0.008)
        self.assertEqual(b["catalyst.plan_nodes"], 30)  # the sink's plan
        self.assertEqual(b["catalyst.exchanges"], 3)
        self.assertEqual(b["scheduler.jobs"], 2)
        self.assertEqual(b["scheduler.tasks"], 3)
        self.assertAlmostEqual(b["scheduler.no_task_s"], 0.18)
        self.assertAlmostEqual(b["scheduler.slot_util"], 330 / (410 * 4))
        self.assertAlmostEqual(b["executor.task_s"], 0.33)
        self.assertAlmostEqual(b["executor.cpu_s"], 0.26)
        self.assertEqual(b["llm.cache_frames"], 2)
        self.assertAlmostEqual(b["llm.cache_mb"], 3)
        self.assertAlmostEqual(b["llm.release_s"], 0.01)

    def test_span_parts_add_up_to_latency(self):
        q = query(t=(1000.25, 1100.5, 1400.125, 1410.0))
        self.assertTrue(metrics.span_parts_match(q))
        b = metrics.breakdown(q, 4)
        parts = b["compile.wall_s"] + b["sink.wall_s"] + b["llm.release_s"]
        self.assertAlmostEqual(parts, metrics.latencies([q])[0], places=12)
        self.assertFalse(metrics.span_parts_match(query(t=(0, 50, 40, 60))))

    def test_final_plan_falls_back_to_last_execution(self):
        q = query(qes=[(7, 0, 0, 0, 0, -1), (1, 2, 3, 12, 2, 0)])
        self.assertEqual(metrics.breakdown(q, 4)["catalyst.plan_nodes"], 12)


class TraceOverheadTest(unittest.TestCase):
    def test_order_factor_cancels(self):
        # tracing costs 1.1x and the second execution of a pair runs 1.1x
        # faster: traced first reads 1.21, traced second 1.0
        qs = [query(t=(0, 0, 0, 100)), query(t=(0, 0, 0, 100), traced=True),
              query(t=(0, 0, 0, 363), traced=True), query(t=(0, 0, 0, 300)),
              query(t=(0, 0, 0, 200)), query(t=(0, 0, 0, 200), traced=True)]
        self.assertAlmostEqual(metrics.trace_overhead(qs), 0.1)

    def test_pairs_with_a_failure_are_skipped(self):
        qs = [query(t=(0, 0, 0, 100)), query(error="boom", traced=True),
              query(t=(0, 0, 0, 200)), query(t=(0, 0, 0, 300), traced=True)]
        self.assertAlmostEqual(metrics.trace_overhead(qs), 0.5)
        self.assertEqual(metrics.trace_overhead(qs[:2]), math.inf)


class AccountingTest(unittest.TestCase):
    def loop(self, queries, wall=10.0, cpu=20.0):
        return {"decks": 1, "wall_s": wall, "cpu_s": cpu, "queries": queries}

    def test_throwing_query_is_attempted_failed_and_infinite(self):
        qs = [query(t=(0, 1, 2, 500)), query(t=(0, 1, 2, 700)),
              query(name=run.INJECTED, error="RuntimeException: injected")]
        e = metrics.end_to_end(self.loop(qs), 90)
        self.assertEqual(e["attempted"], 3)
        self.assertEqual(e["failed"], 1)
        self.assertAlmostEqual(e["throughput_qps"], 0.2)  # 2 done in 10 s
        self.assertEqual(e["latency_p50_s"], 0.7)
        even = metrics.end_to_end(self.loop(qs[:2]), 90)
        self.assertAlmostEqual(even["latency_p50_s"], 0.6)  # interpolated
        self.assertEqual(e["latency_tail_s"], math.inf)
        self.assertAlmostEqual(e["cpu_s_per_query"], 10.0)

    def trace(self, queries, cold_error=None):
        return {"cores": 4, "peak_rss_mb": 100.0,
                "setup": {"session_s": 1.0, "fixture_s": 2.0, "setup_s": 3.0},
                "cold": [{"name": "q_a", "wall_s": 1.0, "error": cold_error}],
                "loop": self.loop(queries)}

    def report(self, trace, verdicts, path):
        with redirect_stdout(io.StringIO()):
            return run.report("bi_dashboard", trace, verdicts, False, path)

    def test_report_counts_failures_and_wrong_results(self):
        path = os.path.join(run.WORK, "test-trace.json")
        os.makedirs(run.WORK, exist_ok=True)
        try:
            qs = [query("q_a", t=(0, 1, 2, 500)), query("q_b", t=(0, 1, 2, 600)),
                  query("q_b", t=(0, 1, 2, 650)),
                  query(run.INJECTED, error="RuntimeException: injected")]
            ok = self.report(self.trace(qs[:3]), {"q_a": None, "q_b": None},
                             path)
            self.assertEqual((ok["correct"], ok["attempted"], ok["failed"]),
                             (True, 3, 0))
            thrown = self.report(self.trace(qs), {"q_a": None, "q_b": None},
                                 path)
            self.assertEqual((thrown["correct"], thrown["attempted"],
                              thrown["failed"]), (False, 4, 1))
            self.assertAlmostEqual(
                thrown["metrics"]["throughput_qps"]["value"], 0.3)
            mostly = self.report(self.trace(qs[:1] + [qs[3]] * 2),
                                 {"q_a": None}, path)
            self.assertEqual(
                mostly["metrics"]["latency_p50_s"]["value"], run.SENTINEL_INF)
            wrong = self.report(self.trace(qs[:3]),
                                {"q_a": None, "q_b": "values differ"}, path)
            self.assertEqual((wrong["correct"], wrong["attempted"],
                              wrong["failed"]), (False, 3, 2))
            cold = self.report(self.trace(qs[:3], cold_error="boom"),
                               {"q_a": None, "q_b": None}, path)
            self.assertFalse(cold["correct"])
            json.dumps(thrown)  # the result line stays valid JSON
        finally:
            if os.path.exists(path):
                os.remove(path)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_the_harness(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         run.PER_LAYER)
        for w in b["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_decks_repeat_the_pool_in_seeded_orders(self):
        a = run.draw_decks(run.BI_POOL, "bi_dashboard", 7, 3)
        self.assertEqual(a, run.draw_decks(run.BI_POOL, "bi_dashboard", 7, 3))
        self.assertNotEqual(a, run.draw_decks(run.BI_POOL, "bi_dashboard", 8, 3))
        for deck in a:
            self.assertEqual(sorted(deck), sorted(run.BI_POOL))


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1",
                     "set PERFBENCH_E2E=1 to run the benchmark itself")
class InjectedFailureRunTest(unittest.TestCase):
    def test_run_reports_the_injected_failure(self):
        r = subprocess.run(
            [sys.executable, os.path.join(run.HERE, "run.py"), "--workload",
             "bi_dashboard", "--seed", "1", "--seconds", "1", "--trace", "0",
             "--inject-failure"], cwd=run.ROOT, capture_output=True, text=True,
            timeout=900)
        self.assertEqual(r.returncode, 1, r.stderr[-2000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        # a 1 s budget still executes each query twice
        self.assertEqual(result["attempted"], 2 * (len(run.BI_POOL) + 1))


if __name__ == "__main__":
    unittest.main()
