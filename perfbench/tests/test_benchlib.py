"""Unit tests for the benchmark's own arithmetic and output shape.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import json
import math
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import benchlib  # noqa: E402
import run  # noqa: E402

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


class Percentiles(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(benchlib.quantile([3, 1, 2], 0.5), 2)
        self.assertAlmostEqual(benchlib.quantile([1, 2, 3, 4], 0.5), 2.5)
        self.assertAlmostEqual(benchlib.quantile(range(1, 101), 0.9), 90.1)
        self.assertEqual(benchlib.quantile([7], 0.9), 7)

    def test_tail_level_keeps_ten_samples_beyond(self):
        self.assertAlmostEqual(benchlib.tail_level(100), 0.9)
        self.assertAlmostEqual(benchlib.tail_level(1000), 0.9)
        self.assertAlmostEqual(benchlib.tail_level(50), 0.8)
        self.assertAlmostEqual(benchlib.tail_level(40), 0.75)
        # fewer than 20 samples: nothing beyond the median is supported
        self.assertEqual(benchlib.tail_level(15), 0.5)
        self.assertEqual(benchlib.tail_level(1), 0.5)

    def test_tail_has_ten_samples_beyond_it(self):
        for n in (20, 37, 64, 100, 250):
            xs = list(range(n))
            v, level = benchlib.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            self.assertLessEqual(level, 0.9)

    def test_empty_input_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.quantile([], 0.5)
        with self.assertRaises(ValueError):
            benchlib.tail_level(0)


class SelfTime(unittest.TestCase):
    def span(self, id_, parent, start, end, layer="l"):
        return {"id": id_, "parent": parent, "layer": layer,
                "start_ns": start, "end_ns": end}

    def test_span_minus_union_of_children(self):
        spans = [self.span(1, 0, 0, 100),
                 # overlapping children count once
                 self.span(2, 1, 10, 30), self.span(3, 1, 20, 50),
                 # a child running past its parent counts up to the parent's end
                 self.span(4, 1, 90, 120),
                 # a grandchild only reduces its own parent
                 self.span(5, 2, 12, 18)]
        st = benchlib.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 20 - 6)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 6)

    def test_leaf_self_time_is_its_length(self):
        self.assertEqual(benchlib.self_times([self.span(1, 0, 5, 9)]), {1: 4})

    def test_layer_totals(self):
        spans = [self.span(1, 0, 0, 2_000_000_000, "operators"),
                 self.span(2, 1, 0, 500_000_000, "sources"),
                 self.span(3, 0, 0, 1_000_000_000, "sources")]
        self.assertEqual(benchlib.layer_self_seconds(spans),
                         {"operators": 1.5, "sources": 1.5})


class DriverShare(unittest.TestCase):
    def test_gaps_between_jobs(self):
        jobs = [(10, 20), (15, 30), (50, 60)]
        self.assertAlmostEqual(benchlib.driver_share(jobs, (0, 100)), 0.7)

    def test_jobs_outside_the_window_are_clipped(self):
        self.assertAlmostEqual(
            benchlib.driver_share([(-50, 10), (90, 200)], (0, 100)), 0.8)

    def test_union(self):
        self.assertEqual(benchlib.union([(5, 6), (1, 3), (2, 4), (7, 7)]),
                         [(1, 4), (5, 6)])


class Spread(unittest.TestCase):
    def test_matches_statistics_quartiles(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.0]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(benchlib.spread(xs), (q3 - q1) / med)


class ResultLine(unittest.TestCase):
    def test_shape(self):
        line = benchlib.result_line(True, 12, 1, {"setup_s": (0.81, "s")})
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(line["metrics"], {"setup_s": {"value": 0.81, "unit": "s"}})
        self.assertEqual(json.loads(json.dumps(line)), line)

    def test_rejects_bad_counts_and_values(self):
        with self.assertRaises(ValueError):
            benchlib.result_line(True, 0, 0, {})
        with self.assertRaises(ValueError):
            benchlib.result_line(True, 3, 4, {})
        with self.assertRaises(TypeError):
            benchlib.result_line(True, 3.0, 0, {})
        for bad in (math.nan, math.inf, True, "1"):
            with self.assertRaises(ValueError):
                benchlib.result_line(True, 1, 0, {"m": (bad, "s")})


def fake_result(workload):
    """A result.json as the harness writes it, with made-up numbers."""
    calls = [{"kind": k, "wall_s": 0.1 + i / 100, "ok": True, "error": None,
              "cache_left": False,
              "counts": {"jobs": 3, "codegen_compiles": 5, "output_bytes": 10}}
             for i, k in enumerate(
                 {"gate_suite": ["gate.a", "gate.b", "gate.classify_hixf"] * 8,
                  "sketch_build": ["build", "readback", "resume", "readback"] * 3,
                  "index_churn": ["conv.probe", "conv.append", "dedup.probe",
                                  "dedup.append", "ivf.topk", "ivf.append",
                                  "dedup.compact", "ivf.compact"] * 4}[workload])]
    with open(SPEC_PATH) as f:
        spec = json.load(f)
    layers = {m["name"]: 1.0 for m in spec["per_layer"]
              if m["name"].startswith(("agg.", "functions.", "sketch."))}
    layers["sketch.hash_stream_len"] = 1000
    return {
        "workload": workload, "cores": 4,
        "setup": {"session_s": 2.0, "reps_s": [3.0, 1.0, 1.2]},
        "measure_s": 20.0, "units_s": [5.0, 4.0, 4.5], "calls": calls,
        "attempted": len(calls), "failed": 0, "check_failures": [],
        "extra": {"cache_leftover_gates": 1, "gates_run": ["a", "b"],
                  "gates_left_out": [], "build_s": [5.0, 4.0],
                  "resume_s": [2.0, 2.1], "chunk_s": [0.3] * 30,
                  "bound_slack_max": 0.3, "polls": 4, "empty_polls": 1,
                  "max_df": 64},
        "input": {"rows": 1000, "bytes": 5000},
        "stored": {"files": 3, "bytes": 2500},
        "peak_rss_mb": 1500.0, "oracle_mismatches": {},
        "layers": layers,
        "counters": {"jobs": 10, "stages": 12, "tasks": 40, "task_s": 8.0,
                     "gc_s": 0.1, "shuffle_write_bytes": 100,
                     "output_bytes": 50, "plan_s": 0.3,
                     "codegen_compiles": 20, "codegen_compile_s": 0.4},
        "window_ms": [0, 20000], "job_intervals_ms": [[0, 10000]],
    }


class Verdict(unittest.TestCase):
    def test_any_oracle_mismatch_is_incorrect(self):
        res = fake_result("gate_suite")
        self.assertEqual(run.verdict(res), (True, 0))
        res["oracle_mismatches"] = {"b": "rows got 4 want 4"}
        gate_b = sum(c["kind"] == "gate.b" for c in res["calls"])
        self.assertEqual(run.verdict(res), (False, gate_b))

    def test_failed_check_is_incorrect(self):
        res = fake_result("index_churn")
        res["check_failures"] = ["dedup.probe poll 2"]
        self.assertFalse(run.verdict(res)[0])

    def test_a_call_that_threw_is_failed_but_correct(self):
        res = fake_result("index_churn")
        res["calls"][5]["ok"] = False
        res["failed"] = 1
        self.assertEqual(run.verdict(res), (True, 1))


class MetricsMatchTheSpec(unittest.TestCase):
    """Every workload reports exactly the metrics BENCHMARK.json names."""

    def setUp(self):
        with open(SPEC_PATH) as f:
            self.spec = json.load(f)

    def test_end_to_end(self):
        want = {(m["name"], m["unit"]) for m in self.spec["end_to_end"]}
        for w in run.WORKLOADS:
            metrics, _ = run.end_to_end(fake_result(w), 0)
            self.assertEqual({(k, u) for k, (_, u) in metrics.items()}, want, w)

    def test_per_layer(self):
        want = {(m["name"], m["unit"]) for m in self.spec["per_layer"]}
        for w in run.WORKLOADS:
            metrics, _ = run.per_layer(fake_result(w), [])
            metrics["trace.overhead_share"] = (0.0, "share")
            self.assertEqual({(k, u) for k, (_, u) in metrics.items()}, want, w)


if __name__ == "__main__":
    unittest.main()
