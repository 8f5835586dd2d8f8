"""Self-test of the benchmark's own code (no JVM, no Spark).

Run from the root of a checkout:
  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 90)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertIsNone(metrics.tail_percentile(19))

    def test_rule_holds_for_every_n(self):
        for n in range(20, 400):
            p = metrics.tail_percentile(n)
            beyond = n - -(-p * n // 100)
            self.assertGreaterEqual(beyond, 10, n)
            if p < 90:
                self.assertLess(n - -(-(p + 1) * n // 100), 10, n)

    def test_workload_percentile_falls_back_to_max(self):
        self.assertEqual(metrics.workload_percentile(40), 75)
        self.assertEqual(metrics.workload_percentile(12), 100)

    def test_nearest_rank_quantile(self):
        xs = list(range(1, 11))
        self.assertEqual(metrics.quantile(xs, 0.5), 5)
        self.assertEqual(metrics.quantile(xs, 0.9), 9)
        self.assertEqual(metrics.quantile(xs, 1.0), 10)
        self.assertEqual(metrics.quantile([3.0], 0.9), 3.0)


class Throughput(unittest.TestCase):
    @staticmethod
    def ex(client, pass_no, start, end, error=None):
        return {"client": client, "pass": pass_no, "start": start, "end": end, "error": error}

    def test_completed_over_timed_wall(self):
        execs = [self.ex(0, 0, 0, 1000), self.ex(0, 0, 1000, 2000),
                 self.ex(0, 1, 2000, 4000),
                 self.ex(1, 0, 0, 4000, error="boom"), self.ex(1, 0, 0, 4000)]
        rec = {"execs": execs, "timed_start_ms": 0.0, "timed_end_ms": 4000.0}
        self.assertAlmostEqual(metrics.qps(rec), 4 / 4.0)

    def test_pass_rates_per_client_in_pass_order(self):
        execs = [self.ex(0, 1, 2000, 2500), self.ex(0, 0, 0, 1000), self.ex(0, 0, 1000, 2000),
                 self.ex(1, 0, 0, 4000, error="boom"), self.ex(1, 0, 0, 4000)]
        self.assertEqual(metrics.pass_rates(execs), {0: [1.0, 2.0], 1: [0.25]})


class Schedule(unittest.TestCase):
    def test_same_seed_same_schedule(self):
        for w in run.WORKLOADS:
            self.assertEqual(run.schedule(7, w), run.schedule(7, w))

    def test_seed_changes_schedule(self):
        for w in run.WORKLOADS:
            self.assertNotEqual(run.schedule(7, w), run.schedule(8, w))

    def test_pass_orders_are_permutations(self):
        subset, orders = run.schedule(3, "olap_concurrent")
        self.assertEqual(len(orders), run.WORKLOADS["olap_concurrent"]["clients"]
                         * run.PASS_ORDERS)
        for o in orders.values():
            self.assertEqual(sorted(o), subset)

    def test_subsets_cover_their_pools(self):
        for w in run.WORKLOADS.values():
            self.assertEqual(set(w["queries"].values()), set(w["modules"]))
            self.assertTrue(all(q.startswith("q") for q in w["queries"]))


class MetricNames(unittest.TestCase):
    def test_charset(self):
        for name, unit in metrics.END_TO_END + metrics.PER_LAYER:
            self.assertTrue(metrics.valid_name(name), name)
            self.assertTrue(metrics.valid_unit(unit), unit)
        for bad in ["", "_x", ".x", "a b", "a/b", "x" * 65, "é"]:
            self.assertFalse(metrics.valid_name(bad), bad)

    def test_names_are_unique(self):
        names = [n for n, _ in metrics.END_TO_END + metrics.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))

    def test_benchmark_json_matches(self):
        path = os.path.join(HERE, "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside perfbench/")
        b = json.load(open(path))
        self.assertEqual(sorted(x["name"] for x in b["workloads"]), sorted(run.WORKLOADS))
        self.assertEqual([(x["name"], x["unit"]) for x in b["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(x["name"], x["unit"]) for x in b["per_layer"]],
                         metrics.PER_LAYER)


class SpanArithmetic(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(0, 2), (5, 6)]), 3)
        self.assertEqual(metrics.union_length([(0, 4), (1, 2), (3, 6)]), 6)
        self.assertEqual(metrics.union_length([(0, 4), (4, 6)]), 6)
        self.assertEqual(metrics.union_length([(3, 3), (5, 4)]), 0)

    def test_union_clipped_to_parent(self):
        self.assertEqual(metrics.union_length([(-5, 2), (8, 20)], 0, 10), 4)

    def test_self_time(self):
        self.assertEqual(metrics.self_time(0, 10, []), 10)
        self.assertEqual(metrics.self_time(0, 10, [(1, 3), (2, 5), (7, 8)]), 5)
        # children outside the parent's interval do not count against it
        self.assertEqual(metrics.self_time(0, 10, [(-3, 1), (9, 15)]), 8)
        self.assertEqual(metrics.self_time(0, 10, [(0, 10), (2, 3)]), 0)

    def test_spans_tree(self):
        rec = {
            "sessions": [1],
            "warmup": [],
            "execs": [{"id": 0, "client": 0, "pass": 0, "query": "q1", "module": "M",
                       "start": 0.0, "built": 10.0, "end": 100.0, "error": None}],
            "trace": {
                "jobs": [{"job": 0, "exec": 0, "submit": 2.0, "stages": [0]},
                         {"job": 1, "exec": None, "submit": 20.0, "stages": [1, 2]}],
                "job_ends": [{"job": 0, "end": 8.0}, {"job": 1, "end": 90.0}],
                "stages": [dict(stage=s, attempt=0, submit=a, end=b, tasks=4,
                                first_launch=a + 1, run_ms=0, cpu_ns=0, gc_ms=0,
                                shuffle_write_b=0, shuffle_read_b=0, fetch_wait_ms=0,
                                spill_b=0, input_b=0, input_rows=0, output_b=0)
                           for s, a, b in [(0, 3.0, 7.0), (1, 21.0, 50.0), (2, 50.0, 80.0)]],
                "plans": [{"sql": 5, "session": 1, "start": 1.0, "plan_ms": 4.0}],
                "sql_exec": {},
                "batches": [],
            },
        }
        spans, agg = metrics.spans(rec)
        by = {s["span"]: s for s in spans}
        self.assertEqual(by["q0.build"]["self_ms"], 4.0)     # 10 - job 0 (6)
        self.assertEqual(by["q0.exec"]["self_ms"], 20.0)     # 90 - job 1 (70)
        self.assertEqual(by["j1"]["parent"], "q0.exec")
        self.assertEqual(by["j1"]["self_ms"], 11.0)          # 70 - stages (59)
        self.assertEqual(agg[0]["driver"], 24.0)             # 100 - 6 - 70
        self.assertEqual(agg[0]["job_wait"], 2.0 + 2.0)      # launch - submit
        self.assertEqual(agg[0]["tasks"], 12)
        self.assertEqual(agg[0]["plans"], 1)


class Fixtures(unittest.TestCase):
    def test_fixtures_match_their_checksums(self):
        with open(os.path.join(run.FIXTURES, "SHA256SUMS")) as f:
            sums = [line.split() for line in f if line.strip()]
        self.assertEqual(len(sums), 20)
        for digest, name in sums:
            with open(os.path.join(run.FIXTURES, name), "rb") as fh:
                self.assertEqual(hashlib.sha256(fh.read()).hexdigest(), digest, name)

    def test_every_workload_has_its_fixture(self):
        for w in run.WORKLOADS.values():
            self.assertTrue(os.path.isfile(
                os.path.join(run.FIXTURES, w["fixture"], "lineitem.parquet")))


if __name__ == "__main__":
    unittest.main()
