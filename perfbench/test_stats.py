"""Benchmark self-tests; no Spark, no JVM, no build.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "run_id": "r", "start_ms": start, "end_ms": end}


class TailTest(unittest.TestCase):
    def test_ten_beyond(self):
        xs = list(range(1, 101))          # 100 samples
        v, pct, n = stats.tail(xs)
        self.assertEqual(v, 90)           # 91..100 are the ten beyond it
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(n, 100)

    def test_smallest_sample_with_a_tail(self):
        xs = [5.0] + [1.0] * 10           # 11 samples: the minimum has ten beyond
        v, pct, n = stats.tail(xs)
        self.assertEqual(v, 1.0)
        self.assertEqual(n, 11)
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_too_few_samples_reports_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))

    def test_order_does_not_matter(self):
        xs = [7, 3, 9, 1, 4, 8, 2, 6, 5, 10, 11, 12, 0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(stats.tail(xs)[0], 2)


class SelfTimeTest(unittest.TestCase):
    def test_nested(self):
        spans = [span(0, "root", -1, 0, 100),
                 span(1, "a", 0, 10, 40),
                 span(2, "a.x", 1, 15, 25),
                 span(3, "b", 0, 50, 90)]
        own = stats.self_times(spans)
        self.assertEqual(own, {0: 30, 1: 20, 2: 10, 3: 40})
        self.assertEqual(sum(own.values()), 100)   # self times add up to the root wall

    def test_overlapping_children_count_once(self):
        spans = [span(0, "p", -1, 0, 10), span(1, "c1", 0, 2, 6), span(2, "c2", 0, 4, 8)]
        self.assertEqual(stats.self_times(spans)[0], 4)

    def test_innermost_and_subtree(self):
        spans = [span(0, "root", -1, 0, 100), span(1, "a", 0, 10, 40), span(2, "a.x", 1, 15, 25)]
        self.assertEqual(stats.innermost(spans, 20), 2)
        self.assertEqual(stats.innermost(spans, 30), 1)
        self.assertEqual(stats.innermost(spans, 99), 0)
        self.assertIsNone(stats.innermost(spans, 101))
        self.assertEqual(stats.subtree(spans, 1), {1, 2})


class IntervalTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_ms([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_ms([]), 0)
        self.assertEqual(stats.union_ms([(5, 5), (7, 6)]), 0)

    def test_driver_gap(self):
        # span 0..100; jobs cover 10..30 and 25..50 and one that starts
        # before the span: the union inside the span is 5 + 40 = 45
        jobs = [(10, 30), (25, 50), (-20, 5)]
        self.assertEqual(stats.driver_gap_ms((0, 100), jobs), 55)
        self.assertEqual(stats.driver_gap_ms((0, 100), []), 100)


class DerivationTest(unittest.TestCase):
    def test_run_overhead(self):
        self.assertAlmostEqual(stats.run_overhead(5.0, 1.5, 2.0, 0.25), 1.25)

    def test_extra_jobs(self):
        # a runner that counts 3 sources and re-counts its output once
        # runs 4 jobs beyond compile (2), transforms (0) and sink (3)
        self.assertEqual(stats.extra_jobs(9, 2, 0, 3), 4)

    def test_record_row_error(self):
        # four sinks of 150 rows, stdout capped at 20, recorded as 4 x 150
        self.assertAlmostEqual(stats.record_row_error(600, 470), 130 / 470)
        self.assertEqual(stats.record_row_error(10, 10), 0.0)
        self.assertTrue(math.isinf(stats.record_row_error(5, 0)))


class CanonicalTest(unittest.TestCase):
    def test_doubles_rounded_to_six_places(self):
        a = stats.canonical([{"x": 0.1 + 0.2}], ["x"])
        b = stats.canonical([{"x": 0.3}], ["x"])
        self.assertEqual(a, b)
        self.assertNotEqual(stats.canonical([{"x": 0.3000015}], ["x"]), b)

    def test_null_is_not_empty_string_and_sorts_first(self):
        rows = stats.canonical([{"x": ""}, {"x": None}, {"x": "a"}], ["x"])
        self.assertEqual(rows[0], ((0, ""),))
        self.assertNotEqual(rows[0], rows[1])

    def test_projection_and_order(self):
        got = [{"b": 2, "a": "y", "extra": 1}, {"b": 1, "a": "x", "extra": 2}]
        want = [{"a": "x", "b": 1}, {"a": "y", "b": 2}]
        self.assertEqual(stats.canonical(got, ["a", "b"]), stats.canonical(want, ["a", "b"]))

    def test_types_render_alike_across_sinks(self):
        # a CSV sink reads back strings, a JSON sink integers
        self.assertEqual(stats.canonical([{"n": 42}], ["n"]), stats.canonical([{"n": "42"}], ["n"]))
        self.assertEqual(stats.canon_value(-0.0), stats.canon_value(0.0))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_run_py(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        import run
        names = [w["name"] for w in bench["workloads"]]
        self.assertTrue(set(names) <= set(run.WORKLOADS), names)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
