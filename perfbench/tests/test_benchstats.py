"""The benchmark's own tests: python3 -m unittest discover -s perfbench/tests"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import benchstats as bs  # noqa: E402


def op(name, wall, ok=True, **extra):
    return dict(name=name, ok=ok, wall_s=wall, **extra)


def a_pass(index, ops, kind="steady", traced=False, **extra):
    return dict(index=index, kind=kind, traced=traced, ops=ops,
                wall_s=sum(o["wall_s"] for o in ops), **extra)


def raw_run(steady, cold=None, workload="floor"):
    passes = [a_pass(0, cold or [], kind="cold")]
    passes += [a_pass(i + 1, ops) for i, ops in enumerate(steady)]
    return {"workload": workload, "passes": passes, "setup_s": 3.0,
            "heap_live_peak_mb": 100.0, "measured_s": 1.0, "k": 4}


class PercentileRule(unittest.TestCase):
    def test_p90_refused_with_fewer_than_ten_samples_above(self):
        self.assertIsNone(bs.supported_quantile(list(range(91)), 0.9))
        self.assertIsNone(bs.supported_quantile([1.0] * 500, 0.9))

    def test_p90_given_with_ten_samples_above(self):
        values = [float(i) for i in range(101)]
        self.assertEqual(bs.supported_quantile(values, 0.9), 90.0)
        self.assertEqual(sum(1 for v in values if v > 90.0), 10)

    def test_quantile_interpolates(self):
        self.assertEqual(bs.quantile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(bs.quantile([5], 0.9), 5)
        self.assertIsNone(bs.quantile([], 0.5))


class FailedOperations(unittest.TestCase):
    def test_failed_operations_add_no_timing(self):
        steady = [[op("a", 1.0), op("b", 0.001, ok=False, error="boom")],
                  [op("a", 3.0), op("b", 2.0)]]
        run = raw_run(steady, cold=[op("a", 9.0), op("b", 9.0)])
        values, samples = bs.end_to_end(run)
        self.assertEqual(samples["latency"][0], 3)
        self.assertEqual(values["latency_p50_s"], 2.0)
        self.assertEqual(values["pass_s"], (1.0 + 5.0) / 2)
        attempted, failed, reasons = bs.outcome(run)
        self.assertEqual((attempted, failed), (6, 1))
        self.assertEqual(reasons, {"b": "boom"})
        self.assertAlmostEqual(samples["failed_frac"], 1 / 6)


class EndToEndMetrics(unittest.TestCase):
    def test_less_shuffle_and_fewer_jobs_do_not_read_worse(self):
        # the same timings, once with more jobs, tasks and bytes moved
        heavy, light = (raw_run([[op("a", 1.0), op("b", 2.0)]] * 3) for _ in range(2))
        for p in heavy["passes"]:
            p["jobs"] = [[i, "build", 0, 10, []] for i in range(5)]
            p["tasks"] = [[0, 0, 10, 0, 0, 10**6, 10**6, 0, 10**6]] * 20
        for p in light["passes"]:
            p["jobs"] = [[0, "action", 0, 50, []]]
            p["tasks"] = [[0, 0, 10, 0, 0, 10**3, 10**3, 0, 10**3]]
        self.assertEqual(bs.end_to_end(heavy), bs.end_to_end(light))

    def test_workload_metrics_exist_on_their_workload_only(self):
        steady = [[op("a", 1.0, raw_bytes=8e6, write_s=0.5, read_s=0.25)]] * 2
        self.assertEqual(bs.workload_metrics(raw_run(steady, workload="floor")), ({}, 0))
        values, n = bs.workload_metrics(raw_run(steady, workload="store"))
        self.assertEqual((values, n), ({"write_mb_per_s": 16.0, "read_mb_per_s": 32.0}, 2))
        run = raw_run([[op("s", 1.0)]] * 2, workload="stream")
        for p, ms in zip(run["passes"][1:], (100, 300)):
            p["batches"] = [{"durations": {"triggerExecution": ms}}]
        values, n = bs.workload_metrics(run)
        self.assertEqual((values["batch_p50_ms"], n), (200, 2))
        self.assertEqual(set(values), set(bs.WORKLOAD_METRICS["stream"]))


class TracingOverhead(unittest.TestCase):
    def test_overhead_counts_the_pass_clock_not_the_operations(self):
        ops = [op("a", 1.0, span=[0, 10**9], windows=[])]
        passes = [a_pass(0, ops, kind="cold")]
        for i, traced in enumerate((False, True, True, False)):
            passes.append(a_pass(i + 1, ops, traced=traced))
            if traced:  # the same operation time, plus the tracing work around it
                passes[-1]["wall_s"] = 1.1
        run = {"workload": "floor", "passes": passes, "k": 4, "probe_ms": 1.0,
               "probe_par_ms": 1.0, "spans": [],
               "jvm_cold": dict(jit_ms=1, gc_ms=1, codecache_mb=1, codegen_compile_ms=1,
                                codegen_compiles=1)}
        values, _, n_traced = bs.per_layer(run)
        self.assertEqual(n_traced, 2)
        self.assertAlmostEqual(values["trace.overhead_frac"], 0.1)
        self.assertEqual(values["pass.wall_s"], 1.0)


class SpanArithmetic(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(bs.union_length([(0, 10), (5, 15), (20, 25), (21, 22)]), 20)
        self.assertEqual(bs.union_length([]), 0)

    def test_self_time_subtracts_covered_part_only(self):
        spans = [
            (1, 0, "op", 0, 100),
            (2, 1, "build", 0, 30),
            (3, 1, "action", 30, 100),
            (4, 3, "job", 40, 60),
            (5, 3, "job", 50, 80),    # overlaps its sibling
            (6, 3, "job", 90, 120),   # runs past its parent's end
        ]
        own = bs.self_times(spans)
        self.assertEqual(own[1], 0)
        self.assertEqual(own[2], 30)
        self.assertEqual(own[3], 70 - (40 + 10))
        self.assertEqual(bs.self_time_by_name(spans)["job"], 20 + 30 + 30)

    def test_covered_clips_to_window(self):
        self.assertEqual(bs.covered((10, 20), [(0, 12), (15, 30)]), 2 + 5)


class SeededInputs(unittest.TestCase):
    OPS = ["a", "b", "c", "d", "e", "f"]
    ARRAYS = {"cells": 100, "chunk": 10, "inner": 5, "nd_shape": [2, 3, 4],
              "nd_chunks": [1, 3, 4], "nd_inner": [1, 3, 2], "quantized_share": [0.4, 0.6]}

    def test_same_seed_same_order(self):
        self.assertEqual(bs.pass_orders("floor", self.OPS, 7, 20),
                         bs.pass_orders("floor", self.OPS, 7, 20))

    def test_orders_are_permutations_that_vary(self):
        orders = bs.pass_orders("floor", self.OPS, 7, 20)
        self.assertTrue(all(sorted(o) == self.OPS for o in orders))
        self.assertGreater(len({tuple(o) for o in orders}), 1)
        self.assertNotEqual(orders, bs.pass_orders("floor", self.OPS, 8, 20))

    def test_store_keeps_its_order(self):
        self.assertTrue(all(o == self.OPS for o in bs.pass_orders("store", self.OPS, 7, 5)))

    def test_same_seed_same_values(self):
        self.assertEqual(bs.store_inputs(self.ARRAYS, 3), bs.store_inputs(self.ARRAYS, 3))
        a, b = bs.store_inputs(self.ARRAYS, 3), bs.store_inputs(self.ARRAYS, 4)
        self.assertNotEqual(a["value_sql"], b["value_sql"])
        for s in (a, b):
            self.assertTrue(0.4 <= s["quantized_share"] <= 0.6)
            self.assertIn("c0 * 12 + c1 * 4 + c2", s["nd_value_sql"])


class PassCount(unittest.TestCase):
    SPEC = {"pass_seconds": 2.0, "warm_passes": 0}

    def test_count_fills_the_seconds_at_the_pinned_pass_time(self):
        self.assertEqual(bs.pass_count(8, self.SPEC, 2, trace=0), (0, 4))
        self.assertEqual(bs.pass_count(3, dict(self.SPEC, warm_passes=1), 2, trace=0), (1, 2))

    def test_traced_run_has_warm_up_and_abba(self):
        self.assertEqual(bs.pass_count(3, self.SPEC, 2, trace=1), (1, 4))


class Counters(unittest.TestCase):
    def test_diff_names_every_changed_counter(self):
        a = {"q": {k: 1 for k in bs.EXACT_COUNTERS + ("exec.shuffle_write_bytes",)}}
        b = {"q": dict(a["q"], **{"sched.tasks": 2}), "r": a["q"]}
        self.assertEqual(bs.counter_diff(a, a), [])
        self.assertEqual(bs.counter_diff(a, b),
                         ["q: sched.tasks 1 vs 2", "r: present in only one run"])


if __name__ == "__main__":
    unittest.main()
