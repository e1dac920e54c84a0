"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402


def sample(op, latency, kind="op", error=None, traced=False, **extra):
    s = {"op": op, "kind": kind, "latency_s": latency, "error": error,
         "traced": traced, "pass": 0}
    s.update(extra)
    return s


class PercentileTest(unittest.TestCase):
    def test_median_is_interpolated(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(stats.percentile(values, 90), 90)
        self.assertEqual(stats.percentile(values, 99), 99)
        self.assertEqual(stats.percentile([5], 90), 5)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(39))
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        for n in (40, 100, 1000):
            self.assertGreaterEqual(stats.beyond(n, stats.tail_percentile(n)), 10)


class FailureTest(unittest.TestCase):
    def test_a_failed_operation_is_counted_not_timed(self):
        result = {"setup_s": [3.0, 1.0, 2.0], "window_s": 2.0, "nproc": 4,
                  "samples": [sample("q_a", 0.5), sample("q_b", 0.7),
                              sample("q_boom", None, error="threw boom"),
                              sample("q_c", 0.9)]}
        m, extra = stats.end_to_end(result)
        self.assertEqual(extra["failed_share"], (0.25, "ratio"))
        self.assertEqual(extra["latency_samples"], (3, "count"))
        self.assertEqual(extra["latency_p50_s"], (0.7, "s"))
        self.assertEqual(m["ops_per_s"], (1.5, "1/s"))
        self.assertEqual(m["setup_s"], (2.0, "s"))

    def test_warmup_passes_are_checked_not_timed(self):
        result = {"setup_s": [1.0], "window_s": 2.0, "nproc": 4, "warmup_passes": 1,
                  "samples": [sample("q_a", 9.0, kind="miss", llm_calls=1),
                              sample("q_b", None, kind="miss", error="wrong answer",
                                     llm_calls=1),
                              sample("q_a", 0.5, kind="miss", llm_calls=1, **{"pass": 1}),
                              sample("q_a", 0.3, kind="hit", llm_calls=0, **{"pass": 1})]}
        m, extra = stats.end_to_end(result)
        self.assertEqual(m["ops_per_s"], (1.0, "1/s"))
        self.assertEqual(extra["latency_p50_s"], (0.4, "s"))
        self.assertEqual(extra["failed_share"], (0.25, "ratio"))
        self.assertEqual(extra["llm_calls_per_ask"], (0.5, "count"))
        self.assertEqual(extra["warmup_s"], (9.0, "s"))

    def test_job_counts_must_repeat(self):
        same = [sample("q_a", 1, jobs=3), sample("q_a", 1, jobs=3)]
        self.assertEqual(stats.job_mismatches(same), {})
        differ = same + [sample("q_a", 1, jobs=2)]
        self.assertEqual(stats.job_mismatches(differ), {("q_a", "op"): [2, 3]})


class OverheadTest(unittest.TestCase):
    def test_alternating_pairs_cancel_the_warm_second_run(self):
        # each op runs 2x faster the second time; tracing costs nothing
        samples = [sample("q_a", 2.0), sample("q_a", 1.0, traced=True),
                   sample("q_b", 4.0, traced=True), sample("q_b", 2.0)]
        self.assertAlmostEqual(stats.tracing_overhead(samples), 0.0)

    def test_a_uniform_cost_is_measured(self):
        samples = [sample("q_a", 1.0), sample("q_a", 1.1, traced=True),
                   sample("q_b", 3.0), sample("q_b", 3.3, traced=True)]
        self.assertAlmostEqual(stats.tracing_overhead(samples), 0.1)


class ScheduleTest(unittest.TestCase):
    def test_same_seed_same_order(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(workloads.schedule(w, 7), workloads.schedule(w, 7))
            self.assertNotEqual(workloads.schedule(w, 7), workloads.schedule(w, 8))

    def test_every_ops_pass_runs_each_query_once(self):
        for w, ops in workloads.OPS.items():
            for p in workloads.schedule(w, 3):
                self.assertEqual(sorted(p), sorted(ops))

    def test_every_ask_pass_asks_each_question_twice(self):
        for p in workloads.schedule("ask", 3):
            self.assertEqual(sorted(p), sorted(list(workloads.ASK) * 2))


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def results(self):
        ops = {"setup_s": [2.0, 1.0, 1.5], "window_s": 10.0, "nproc": 4,
               "samples": [sample("q_a", 1.0, traced=True, jobs=2, wall_s=1.0,
                                  **{"exec.run_s": 2.0}),
                           sample("q_a", 1.1, jobs=2)]}
        ask = {"setup_s": [2.0, 1.0, 1.5], "window_s": 10.0, "nproc": 4,
               "samples": [sample("q1", 0.5, kind="miss", llm_calls=1, attempts=0),
                           sample("q1", 0.4, kind="hit", llm_calls=0, attempts=0)]}
        return {"ops": ops, "ask": ask}

    def test_workloads_exist(self):
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], workloads.WORKLOADS)

    def test_the_output_prints_exactly_the_named_metrics_with_their_units(self):
        e2e = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        layers = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        for result in self.results().values():
            printed, _ = stats.end_to_end(result)
            self.assertEqual({k: u for k, (_, u) in printed.items()}, e2e)
            printed = stats.per_layer(result)
            self.assertEqual({k: u for k, (_, u) in printed.items()}, layers)


if __name__ == "__main__":
    unittest.main()
