"""Tests of lakebench's own logic.

    python3 -m unittest discover -s lakebench -p 'test_*.py'

The determinism test builds graft and the harness (cached under
`.bench_build/`) and runs the harness in its Spark-free digest mode.
"""

import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import analysis  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(analysis.tail_percentile(0))
        self.assertIsNone(analysis.tail_percentile(99))
        self.assertEqual(analysis.tail_percentile(100), 90.0)
        self.assertEqual(analysis.tail_percentile(999), 90.0)
        self.assertEqual(analysis.tail_percentile(1000), 99.0)
        self.assertEqual(analysis.tail_percentile(10000), 99.9)

    def test_quantile_interpolates(self):
        self.assertEqual(analysis.quantile([3, 1, 2], 0.5), 2)
        self.assertEqual(analysis.quantile([1, 2, 3, 4], 0.5), 2.5)
        self.assertAlmostEqual(analysis.quantile(list(range(101)), 0.9), 90.0)
        with self.assertRaises(ValueError):
            analysis.quantile([], 0.5)

    def test_p90_reported_only_from_100_operations(self):
        def raw(n):
            return {"ops": [{"i": i, "ms": float(i), "ok": True, "units": 0} for i in range(n)],
                    "jvm_s": 0.5, "session_s": 1.0, "setup_reps_s": [1.0, 3.0, 2.0], "warmup_s": 1.0,
                    "wall_s": 2.0, "vmhwm_kb": 2048, "counters": {}, "deferred_failures": []}
        _, info = analysis.end_to_end(raw(99))
        self.assertIsNone(info["op_p90_ms"])
        m, info = analysis.end_to_end(raw(100))
        self.assertAlmostEqual(info["op_p90_ms"], 89.1)
        self.assertEqual(m["setup_s"], 0.5 + 1.0 + 2.0 + 1.0)  # median of the set-up repetitions
        self.assertEqual(m["ops_per_s"], 50.0)
        self.assertEqual(m["peak_rss_mb"], 2.0)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(analysis.union_length([]), 0.0)
        self.assertEqual(analysis.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(analysis.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(analysis.union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(analysis.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(analysis.union_length([(5, 5), (7, 6)]), 0)

    def test_driver_gap_is_span_minus_job_union(self):
        span = (100.0, 200.0)
        jobs = [(110, 130), (120, 150), (190, 250)]  # overlapping, and one past the end
        self.assertEqual(analysis.driver_gap(span, [], jobs), 100 - (40 + 10))
        self.assertEqual(analysis.driver_gap(span, [], []), 100)
        self.assertEqual(analysis.driver_gap(span, [(95, 300)], []), 0)

    def test_self_time_subtracts_children_once(self):
        span = (0.0, 100.0)
        kids = [(10, 30), (20, 40), (90, 120)]
        self.assertEqual(analysis.self_time(span, kids), 100 - (30 + 10))
        self.assertEqual(analysis.self_time(span, []), 100)


class Attribution(unittest.TestCase):
    def test_jobs_follow_span_property_else_time(self):
        spans = [{"id": 0, "layer": "op", "name": "x", "op": 0, "parent": -1, "t0": 0.0, "t1": 100.0, "failed": False},
                 {"id": 1, "layer": "query", "name": "get", "op": 0, "parent": 0, "t0": 10.0, "t1": 50.0, "failed": False},
                 {"id": 2, "layer": "streaming", "name": "microbatch", "op": 0, "parent": 0, "t0": 60.0, "t1": 90.0,
                  "failed": True}]
        jobs = [{"id": 7, "span": 1, "t0": 20, "t1": 30, "tasks": 4, "failed_tasks": 1, "task_ms": 30,
                 "sched_wait_ms": 2, "shuffle_bytes": 100, "records_read": 10},
                {"id": 8, "span": -1, "t0": 70, "t1": 80, "tasks": 2, "failed_tasks": 0, "task_ms": 5,
                 "sched_wait_ms": 1, "shuffle_bytes": 0, "records_read": 0}]
        self.assertEqual(analysis.attribute_jobs(spans, jobs), {7: 1, 8: 2})
        raw = {"spans": spans, "jobs": jobs, "counters": {},
               "ops": [{"i": 0, "kind": "x", "ms": 100.0, "ok": True, "units": 5}]}
        m = analysis.per_layer(raw)
        self.assertEqual(m["query.calls"], 1)
        self.assertEqual(m["query.busy_ms"], 40)
        self.assertEqual(m["query.driver_gap_ms"], 30)
        self.assertEqual(m["query.jobs"], 1)
        self.assertEqual(m["query.failed"], 1)  # one failed task
        self.assertEqual(m["streaming.failed"], 1)  # one failed span
        self.assertEqual(m["streaming.driver_gap_ms"], 20)
        self.assertEqual(m["query.get_p50_ms"], 40)
        self.assertEqual(m["query.rows_read_per_row_returned"], 2.0)
        self.assertEqual(m["query.jobs_per_op"], 1.0)
        self.assertEqual(set(m), set(analysis.per_layer_names()))
        self.assertLessEqual(len(m), 128)


class Determinism(unittest.TestCase):
    """One seed yields a byte-identical input set and operation sequence."""

    def digest(self, workload, seed):
        out = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                              "--seed", str(seed), "--seconds", "10", "--digest"],
                             capture_output=True, text=True, timeout=900, check=True)
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_same_seed_same_inputs_and_operations(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = self.digest(w, 7), self.digest(w, 7), self.digest(w, 8)
                self.assertEqual(a, b)
                self.assertNotEqual(a["inputs"], c["inputs"])
                if w in ("registry_read", "dataset_scan"):  # the others replay fixed step lists
                    self.assertNotEqual(a["ops"], c["ops"])


class BenchmarkFile(unittest.TestCase):
    def test_metric_names_match(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual([m["name"] for m in bench["end_to_end"]], [k for k, _ in run.END_TO_END])
        self.assertEqual([m["name"] for m in bench["per_layer"]], analysis.per_layer_names())
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
