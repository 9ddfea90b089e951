"""Self-tests of the benchmark's reduction rules.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import reduce
import repeat_check

SPEC = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                   "..", "BENCHMARK.json")))


def raw_record(ops, failed=0, mismatches=()):
    layer = {m["name"]: 1.0 for m in SPEC["per_layer"]}
    for k in ("queries.p50_s", "queries.tail_s", "queries.tail_pct", "trace.wall_s"):
        layer.pop(k, None)
    return {"setup_s": 3.0, "ops": ops, "iter_walls": [2.0, 4.0, 3.0],
            "iter_cpu": [1.0, 1.5, 2.0], "iter_jobs": [7, 7, 7],
            "stored_bytes": 50, "input_bytes": 10, "attempted": len(ops) + 5,
            "failed": failed, "mismatches": list(mismatches), "layer": layer}


def ok(name, s):
    return {"name": name, "s": s, "ok": True}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(reduce.tail_percentile(1000), 99.0)
        self.assertEqual(reduce.tail_percentile(10000), 99.9)
        self.assertEqual(reduce.tail_percentile(100), 90.0)
        self.assertEqual(reduce.tail_percentile(200), 95.0)
        self.assertEqual(reduce.tail_percentile(99), 75.0)
        self.assertEqual(reduce.tail_percentile(40), 75.0)
        self.assertEqual(reduce.tail_percentile(20), 50.0)

    def test_too_few_samples_report_no_tail(self):
        self.assertIsNone(reduce.tail_percentile(19))
        raw = raw_record([ok("q1", 1.0)] * 5)
        metrics = reduce.per_layer(raw)
        self.assertEqual(metrics["queries.tail_pct"], 0.0)
        self.assertEqual(metrics["queries.tail_s"], 0.0)

    def test_nearest_rank(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(reduce.percentile(xs, 90.0), 90.0)
        self.assertEqual(reduce.percentile(xs, 50.0), 50.0)
        raw = raw_record([ok("q1", x) for x in xs])
        metrics = reduce.per_layer(raw)
        self.assertEqual(metrics["queries.tail_pct"], 90.0)
        self.assertEqual(metrics["queries.tail_s"], 90.0)


class FailureAccounting(unittest.TestCase):
    def test_failed_op_counts_and_has_no_latency(self):
        ops = [ok("q1", 1.0), ok("q2", 2.0), ok("q3", 3.0),
               {"name": "q4", "s": 500.0, "ok": False}]
        raw = raw_record(ops, failed=1)
        self.assertEqual(reduce.latencies(ops), [1.0, 2.0, 3.0])
        line = reduce.result_line(raw, SPEC, traced=False)
        self.assertEqual(line["failed"], 1)
        self.assertFalse(line["correct"])
        self.assertEqual(reduce.per_layer(raw)["queries.p50_s"], 2.0)

    def test_gate_mismatch_is_not_correct(self):
        raw = raw_record([ok("q1", 1.0)], failed=1, mismatches=["q9: got x"])
        line = reduce.result_line(raw, SPEC, traced=False)
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)

    def test_clean_run_is_correct(self):
        line = reduce.result_line(raw_record([ok("q1", 1.0)]), SPEC, traced=False)
        self.assertTrue(line["correct"])
        self.assertEqual(line["failed"], 0)
        self.assertGreaterEqual(line["attempted"], 1)


class OutputCompleteness(unittest.TestCase):
    def check(self, traced, declared):
        line = reduce.result_line(raw_record([ok("q1", 1.0)]), SPEC, traced=traced)
        self.assertIsInstance(line["correct"], bool)
        self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])
        self.assertEqual(set(line["metrics"]), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(line["metrics"][m["name"]]["value"], (int, float))

    def test_every_end_to_end_metric_with_its_unit(self):
        self.check(False, SPEC["end_to_end"])

    def test_every_per_layer_metric_with_its_unit(self):
        self.check(True, SPEC["per_layer"])

    def test_a_missing_layer_metric_fails_loudly(self):
        raw = raw_record([ok("q1", 1.0)])
        del raw["layer"]["jvm.gc_s"]
        with self.assertRaises(KeyError):
            reduce.result_line(raw, SPEC, traced=True)


class CountRepeat(unittest.TestCase):
    def test_only_counts_are_compared(self):
        a = {"queries.jobs": {"value": 7}, "queries.gc_s": {"value": 0.1},
             "stages.pack.rows_out": {"value": 90}}
        b = {"queries.jobs": {"value": 7}, "queries.gc_s": {"value": 0.3},
             "stages.pack.rows_out": {"value": 91}}
        self.assertEqual(repeat_check.differences(a, b), ["stages.pack.rows_out"])


if __name__ == "__main__":
    unittest.main()
