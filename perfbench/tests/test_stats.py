"""Tests of the benchmark's own arithmetic.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(list(range(101)), 90), 90.0)

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 50))

    def test_tail_level_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_level(39))
        self.assertEqual(stats.tail_level(40), 75.0)
        self.assertEqual(stats.tail_level(99), 75.0)
        self.assertEqual(stats.tail_level(100), 90.0)
        self.assertEqual(stats.tail_level(199), 90.0)
        self.assertEqual(stats.tail_level(200), 95.0)
        self.assertEqual(stats.tail_level(1000), 99.0)
        self.assertEqual(stats.tail_level(10000), 99.9)

    def test_timing_reports_level_and_count(self):
        t = stats.timing([float(i) for i in range(1, 101)])
        self.assertEqual(t["n"], 100)
        self.assertEqual(t["tail_level"], 90.0)
        self.assertAlmostEqual(t["tail"], 90.1)
        self.assertAlmostEqual(t["p50"], 50.5)
        short = stats.timing([1.0, 2.0, 3.0])
        self.assertIsNone(short["tail_level"])
        self.assertIsNone(short["tail"])


class PassTimeTest(unittest.TestCase):
    def test_sums_each_names_median(self):
        ops = [{"name": "a", "ms": 10.0}, {"name": "b", "ms": 3.0},
               {"name": "a", "ms": 30.0}, {"name": "a", "ms": 11.0},
               {"name": "b", "ms": 5.0}]
        # a: median of 10, 11, 30; b: median of 3, 5
        self.assertEqual(stats.pass_time(ops, lambda o: o["ms"]), 11.0 + 4.0)

    def test_empty(self):
        self.assertEqual(stats.pass_time([], lambda o: o["ms"]), 0)


class UnionTest(unittest.TestCase):
    def test_overlapping_nested_and_disjoint(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30), (22, 25)]), 25)

    def test_clipped_to_window(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)], 8, 25), 12)

    def test_touching_and_empty(self):
        self.assertEqual(stats.union_length([(0, 5), (5, 10)]), 10)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(3, 3), (7, 2)]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        spans = [
            {"id": 1, "parent": 0, "t0": 0, "t1": 100},
            {"id": 2, "parent": 1, "t0": 10, "t1": 40},
            {"id": 3, "parent": 1, "t0": 30, "t1": 60},
            {"id": 4, "parent": 2, "t0": 15, "t1": 20},
            # runs past its parent's end: only the covered part counts
            {"id": 5, "parent": 1, "t0": 90, "t1": 120},
        ]
        self.assertEqual(stats.self_times(spans), {1: 40, 2: 25, 3: 30, 4: 5, 5: 30})

    def test_layer_table_sums_by_name(self):
        spans = [
            {"id": 1, "parent": 0, "t0": 0, "t1": 10, "name": "op"},
            {"id": 2, "parent": 1, "t0": 0, "t1": 4, "name": "spark.job"},
            {"id": 3, "parent": 1, "t0": 5, "t1": 7, "name": "spark.job"},
        ]
        table = stats.layer_table(spans)
        self.assertEqual(table["op"], {"calls": 1, "total_ms": 10, "self_ms": 4})
        self.assertEqual(table["spark.job"], {"calls": 2, "total_ms": 6, "self_ms": 6})


class AmplificationTest(unittest.TestCase):
    def test_ratio_of_stored_to_plain_bytes(self):
        self.assertEqual(stats.amplification(3000, 1000), 3.0)
        self.assertEqual(stats.amplification(500, 1000), 0.5)
        self.assertIsNone(stats.amplification(10, 0))


class TraceSpansTest(unittest.TestCase):
    def test_jobs_and_phases_become_children(self):
        raw = {
            "ops": [{"id": 7, "traced": True, "t0": 100.0, "t1": 200.0}],
            "spans": [
                {"id": 1, "parent": 0, "op": 7, "name": "op:query", "t0": 100.5, "t1": 199.5},
                {"id": 2, "parent": 1, "op": 7, "name": "sink.noop", "t0": 150.0, "t1": 199.0},
            ],
            "jobs": [
                # named by its job group, parent by its span property
                {"id": 0, "group": "op-7", "span": 2, "t0": 160, "t1": 190},
                # no group: found by time; unknown span: the op's root
                {"id": 1, "group": "", "span": 0, "t0": 120, "t1": 130},
                # outside every traced op
                {"id": 2, "group": "", "span": 0, "t0": 300, "t1": 310},
            ],
            "phases": [{"name": "planning", "t0": 151, "t1": 155}],
        }
        by_id = {s["id"]: s for s in stats.trace_spans(raw)}
        self.assertEqual(by_id["job-0"]["parent"], 2)
        self.assertEqual(by_id["job-1"]["parent"], 1)
        self.assertNotIn("job-2", by_id)
        self.assertEqual(by_id["phase-0"]["parent"], 2)
        self.assertEqual(by_id["phase-0"]["name"], "catalyst.planning")


if __name__ == "__main__":
    unittest.main()
