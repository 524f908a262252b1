"""Unit tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402


def span(i, parent, a, b):
    return {"id": i, "parent": parent, "start_ms": a, "end_ms": b}


class PercentileTest(unittest.TestCase):
    def test_value_and_count(self):
        self.assertEqual(M.percentile([3, 1, 2], 50), (2, 3))
        self.assertEqual(M.percentile(range(101), 95), (95.0, 101))

    def test_interpolates_between_order_statistics(self):
        v, n = M.percentile([10, 20], 95)
        self.assertAlmostEqual(v, 19.5)
        self.assertEqual(n, 2)

    def test_empty_sample_reports_zero_count(self):
        self.assertEqual(M.percentile([], 50), (0.0, 0))

    def test_geomean(self):
        self.assertAlmostEqual(M.geomean([1, 100]), 10.0)


class SelfTimeTest(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(M.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(M.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(M.union_length([]), 0)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 70)]
        st = M.self_times(spans)
        self.assertEqual(st[1], 40)  # 100 - |[10, 70)|
        self.assertEqual(st[2], 40)
        self.assertEqual(st[3], 40)

    def test_child_running_past_parent_is_clipped(self):
        st = M.self_times([span(1, 0, 0, 100), span(2, 1, 90, 130)])
        self.assertEqual(st[1], 90)

    def test_grandchildren_do_not_reduce_grandparent_twice(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 60), span(3, 2, 10, 20)]
        st = M.self_times(spans)
        self.assertEqual(st[1], 40)
        self.assertEqual(st[2], 50)


class IngestLatencyTest(unittest.TestCase):
    progress = [
        # the first empty batch and a batch that read nothing are skipped
        {"batch_id": 0, "timestamp_ms": 900, "rows": 0, "start_offset": None,
         "end_offset": 0, "duration_ms": {"triggerExecution": 50}},
        {"batch_id": 2, "timestamp_ms": 1500, "rows": 2, "start_offset": 3,
         "end_offset": 5, "duration_ms": {"triggerExecution": 300}},
        {"batch_id": 1, "timestamp_ms": 1000, "rows": 3, "start_offset": None,
         "end_offset": 3, "duration_ms": {"triggerExecution": 400}},
        {"batch_id": 3, "timestamp_ms": 1900, "rows": 0, "start_offset": 5,
         "end_offset": 5, "duration_ms": {"triggerExecution": 5}},
    ]

    def test_batch_ranges_sorted_by_offset_end_at_trigger_end(self):
        r = M.batch_ranges(self.progress)
        self.assertEqual(r, [(0, 3, 1400, 1), (3, 5, 1800, 2)])

    def test_offset_to_batch(self):
        r = M.batch_ranges(self.progress)
        self.assertEqual(M.record_batches(r, 6), [0, 0, 0, 1, 1, None])

    def test_latency_from_due_time_to_batch_end(self):
        r = M.batch_ranges(self.progress)
        due = [1000, 1100, 1200, 1300, 1400, 1500]
        self.assertEqual(M.record_latencies(r, due, range(6)), [400, 300, 200, 500, 400])
        self.assertEqual(M.record_latencies(r, due, [4]), [400])


if __name__ == "__main__":
    unittest.main()
