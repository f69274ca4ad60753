"""Self-tests of the benchmark's scoring: python3 -m pytest perfbench/tests"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402


def op(name, wall, rows=3, hash_="h", kind="query", err=None, pass_=2, start_us=0, **kw):
    return dict(kind=kind, name=name, wall_ms=wall, cpu_ms=wall / 2, rows=rows, hash=hash_,
                err=err, start_us=start_us, **{"pass": pass_}, **kw)


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(list(range(1, 1001))), (0.99, 990))
        self.assertEqual(metrics.tail_percentile(list(range(1, 101))), (0.9, 90))
        self.assertEqual(metrics.tail_percentile(list(range(1, 41))), (0.75, 30))

    def test_too_few_samples(self):
        self.assertEqual(metrics.tail_percentile(list(range(1, 21))), (0.5, 10))
        self.assertIsNone(metrics.tail_percentile(list(range(1, 20))))
        self.assertIsNone(metrics.tail_percentile([]))
        self.assertEqual(metrics.timing([5.0]), {"n": 1, "p50": 5.0})

    def test_order_does_not_matter(self):
        xs = [7, 1, 9, 3, 5] * 8
        self.assertEqual(metrics.tail_percentile(xs), metrics.tail_percentile(sorted(xs)))


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [(1, 0, "op", 0, 100), (2, 1, "entry.action", 10, 90),
                 (3, 2, "sched.job", 20, 50)]
        self.assertEqual(metrics.self_times(spans),
                         {"op": 20, "entry.action": 50, "sched.job": 30})

    def test_overlapping_siblings_are_not_counted_twice(self):
        spans = [(1, 0, "op", 0, 100), (2, 1, "sched.job", 10, 60),
                 (3, 1, "sched.job", 40, 80)]
        st = metrics.self_times(spans)
        self.assertEqual(st, {"op": 30, "sched.job": 70})
        self.assertEqual(sum(st.values()), 100)

    def test_children_are_clipped_to_the_parent(self):
        spans = [(1, 0, "op", 0, 100), (2, 1, "entry.action", 50, 130),
                 (3, 2, "sched.job", 120, 140)]
        st = metrics.self_times(spans)
        self.assertEqual(st, {"op": 50, "entry.action": 50})

    def test_attach_by_time_picks_the_innermost_span(self):
        bench = [(1, -1, "op", 0, 100), (2, 1, "entry.action", 10, 90)]
        out = metrics.attach_by_time([(9, 0, "catalyst.planning", 20, 30),
                                      (8, 0, "catalyst.analysis", 200, 210)], bench)
        self.assertEqual(out, [(9, 2, "catalyst.planning", 20, 30)])


class Names(unittest.TestCase):
    def test_benchmark_json_names(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            config = json.load(f)
        names = [m["name"] for m in config["end_to_end"] + config["per_layer"]]
        names += [w["name"] for w in config["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, metrics.NAME_RE)
            self.assertLessEqual(len(n), 64)

    def test_reported_names(self):
        raw = {"ops": [op("q1", 10.0 + i, start_us=50_000 * i) for i in range(40)],
               "setup_s": [3.0, 2.0, 2.5], "heap_peak_mb": 100.0,
               "extra": {"pass_s": [1.0, 0.9]}}
        m, _ = metrics.end_to_end(raw, {"q1": [3, "h"]})
        for n in m:
            self.assertRegex(n, metrics.NAME_RE)
        self.assertIn("op_p75_ms", m)


class Window(unittest.TestCase):
    def test_first_pass_is_not_measured(self):
        ops = [op("q1", 900.0, pass_=1, start_us=0), op("q1", 100.0, start_us=1_000_000),
               op("q1", 300.0, start_us=1_200_000)]
        kept, window = metrics.measured(ops)
        self.assertEqual([o["wall_ms"] for o in kept], [100.0, 300.0])
        self.assertAlmostEqual(window, 0.5)
        m, _ = metrics.end_to_end({"ops": ops, "setup_s": [1.0], "heap_peak_mb": 1.0,
                                   "extra": {}}, {"q1": [3, "h"]})
        self.assertAlmostEqual(m["ops_per_s"][0], 4.0)
        self.assertEqual(m["op_p50_ms"][0], 200.0)
        self.assertEqual(m["cpu_ms_per_op"][0], 100.0)
        self.assertEqual(m["failed_frac"][2], 3)


class Correctness(unittest.TestCase):
    def raw(self, ops):
        return {"ops": ops, "setup_s": [1.0], "heap_peak_mb": 1.0, "extra": {}}

    def test_clean_run(self):
        m, failures = metrics.end_to_end(self.raw([op("q1", 1.0), op("q2", 2.0)]),
                                         {"q1": [3, "h"], "q2": [3, "h"]})
        self.assertEqual(failures, [])
        self.assertEqual(m["failed_frac"][0], 0.0)

    def test_injected_wrong_result_raises_failed_frac(self):
        goldens = {"q1": [3, "h"], "q2": [3, "h"]}
        m, failures = metrics.end_to_end(
            self.raw([op("q1", 1.0), op("q2", 2.0, hash_="tampered")]), goldens)
        self.assertEqual(failures, [("query", "q2", "WrongResult")])
        self.assertEqual(m["failed_frac"][0], 0.5)
        m, _ = metrics.end_to_end(self.raw([op("q1", 1.0, rows=4), op("q2", 2.0)]), goldens)
        self.assertEqual(m["failed_frac"][0], 0.5)

    def test_exception_and_own_expectation(self):
        ops = [op("q1", 1.0, err="java.lang.IllegalStateException"),
               op("read_latest", 1.0, kind="read_latest", rows=5, hash_="a",
                  expect_rows=5, expect_hash="a"),
               op("read_pinned", 1.0, kind="read_pinned", rows=5, hash_="a",
                  expect_rows=6, expect_hash="a")]
        m, failures = metrics.end_to_end(self.raw(ops), {"q1": [3, "h"]})
        self.assertEqual([f[2] for f in failures],
                         ["java.lang.IllegalStateException", "WrongResult"])
        self.assertAlmostEqual(m["failed_frac"][0], 2 / 3)


if __name__ == "__main__":
    unittest.main()
