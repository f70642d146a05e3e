"""Tests of run.py's own statistics and result assembly.

Run from the root of a checkout: python3 -m unittest perfbench/test_run.py
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def sample(wall, cpu=1.0, setup=2.0, heap=100.0, ok=True, traced=False, counters=None):
    return {"wall_s": wall, "cpu_s": cpu, "setup_s": setup, "heap_retained_mib": heap,
            "ok": ok, "traced": traced, "counters": counters or {}}


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond_once_there_are_enough(self):
        v, p, beyond = run.tail([float(x) for x in range(1, 101)])
        self.assertEqual((v, p, beyond), (90.0, 90.0, 10))
        v, _, beyond = run.tail([float(x) for x in range(21, 0, -1)])
        self.assertEqual((v, beyond), (11.0, 10))

    def test_few_samples_never_reach_below_the_median(self):
        self.assertEqual(run.tail([5.0]), (5.0, 100.0, 0))
        self.assertEqual(run.tail([9.0, 1.0]), (9.0, 100.0, 0))
        # one outlier among five cannot be the tail
        v, _, beyond = run.tail([1.0, 100.0, 2.0, 3.0, 4.0])
        self.assertEqual((v, beyond), (3.0, 2))


class SummaryTest(unittest.TestCase):
    def test_end_to_end_and_per_layer_medians(self):
        samples = [sample(10.0, cpu=20.0, heap=150.0, traced=True,
                          counters={"sched.jobs": 7.0, "trace.overhead_frac": 0.01}),
                   sample(12.0, cpu=22.0, heap=170.0, setup=4.0, traced=True,
                          counters={"sched.jobs": 9.0, "trace.overhead_frac": 0.03})]
        e2e, layer, (_, _, n) = run.summarise(samples, traced=True)
        m = e2e
        self.assertEqual(n, 2)
        self.assertEqual(m["wall_s"], 11.0)
        self.assertEqual(m["cpu_s"], 21.0)
        self.assertEqual(m["heap_peak_mib"], 170.0)
        self.assertEqual(m["setup_s"], 3.0)
        self.assertEqual(m["failed_frac"], 0.0)
        self.assertEqual(layer, {"sched.jobs": 8.0, "trace.overhead_frac": 0.02})

    def test_failed_runs_count_against_attempted(self):
        samples = [sample(10.0), sample(11.0, ok=False)]
        e2e, _, _ = run.summarise(samples, traced=False)
        self.assertEqual(e2e["failed_frac"], 0.5)
        line = json.loads(run.result_line(samples, e2e, trace=False))
        self.assertEqual((line["correct"], line["attempted"], line["failed"]), (False, 2, 1))

    def test_result_carries_exactly_the_declared_metrics(self):
        samples = [sample(10.0)]
        e2e, _, _ = run.summarise(samples, traced=False)
        line = json.loads(run.result_line(samples, e2e, trace=False))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(list(line["metrics"]), list(run.spec_metrics(trace=False)))
        self.assertEqual(line["metrics"]["wall_s"], {"value": 10.0, "unit": "s"})
        self.assertNotIn("failed_frac", line["metrics"])


class SpecTest(unittest.TestCase):
    def test_every_per_layer_metric_says_what_it_should_move(self):
        with open(os.path.join(run.HERE, "layers.json")) as fh:
            layers = json.load(fh)["metrics"]
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual(sorted(layers), sorted(run.spec_metrics(trace=True)))
        e2e = set(run.spec_metrics(trace=False)) | {"failed_frac"}
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        for name, entry in layers.items():
            self.assertLessEqual(set(entry["moves"]), e2e, name)
            self.assertLessEqual(set(entry["on"]), set(run.WORKLOADS), name)


if __name__ == "__main__":
    unittest.main()
