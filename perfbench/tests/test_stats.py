"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import stats  # noqa: E402


class PercentileChoice(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertTrue(stats.supports(20, 50))
        self.assertFalse(stats.supports(19, 50))
        self.assertTrue(stats.supports(200, 95))
        self.assertFalse(stats.supports(199, 95))
        self.assertTrue(stats.supports(1000, 99))
        self.assertFalse(stats.supports(999, 99))

    def test_highest_supported(self):
        self.assertEqual(stats.highest_supported(1000), 99)
        self.assertEqual(stats.highest_supported(999), 95)
        self.assertEqual(stats.highest_supported(150), 90)
        self.assertEqual(stats.highest_supported(40), 75)
        self.assertEqual(stats.highest_supported(25), 50)
        self.assertIsNone(stats.highest_supported(19))

    def test_nearest_rank_returns_a_measured_value(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile(reversed(xs), 99), 99)
        self.assertEqual(stats.percentile([3.5], 99), 3.5)

    def test_geomean_of_per_name_medians(self):
        samples = [{"name": "a", "ms": 1.0}, {"name": "a", "ms": 3.0},
                   {"name": "b", "ms": 8.0}]
        self.assertEqual(stats.per_name_medians(samples), {"a": 2.0, "b": 8.0})
        self.assertAlmostEqual(stats.geomean([2.0, 8.0]), 4.0)


class OpenLoopLatency(unittest.TestCase):
    def test_latency_runs_from_the_due_time(self):
        due = {1: 0.0, 2: 10.0}
        self.assertEqual(sorted(stats.open_loop_latencies(due, {1: 0, 2: 0}, {0: 25.0})),
                         [15.0, 25.0])

    def test_a_stall_is_charged_to_every_event_that_waited(self):
        # events due every 10 ms; batch 0 ends at 15, then a stall: batch 1
        # only ends at 500, and it carries everything due in between
        due = {i: 10.0 * i for i in range(10)}
        batch_of = {i: 0 if i < 2 else 1 for i in range(10)}
        lat = stats.open_loop_latencies(due, batch_of, {0: 15.0, 1: 500.0})
        self.assertEqual(lat[:2], [15.0, 5.0])
        self.assertEqual(lat[2:], [500.0 - 10.0 * i for i in range(2, 10)])
        # the wait is not hidden by when the generator got to write them
        self.assertEqual(max(lat), 480.0)

    def test_unscored_events_are_left_out(self):
        self.assertEqual(stats.open_loop_latencies({1: 0.0}, {}, {0: 5.0}), [])


class SelfTime(unittest.TestCase):
    def test_duration_minus_the_part_children_cover(self):
        spans = [
            {"id": "op", "parent": None, "start": 0.0, "end": 100.0},
            {"id": "a", "parent": "op", "start": 10.0, "end": 30.0},
            {"id": "b", "parent": "op", "start": 20.0, "end": 50.0},   # overlaps a
            {"id": "c", "parent": "op", "start": 90.0, "end": 120.0},  # overruns op
            {"id": "d", "parent": "a", "start": 12.0, "end": 18.0},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st["op"], 100.0 - 40.0 - 10.0)
        self.assertEqual(st["a"], 20.0 - 6.0)
        self.assertEqual(st["b"], 30.0)
        self.assertEqual(st["d"], 6.0)

    def test_covered_merges_intervals(self):
        self.assertEqual(stats.covered([(0, 5), (3, 8), (10, 12)], 0, 20), 10)
        self.assertEqual(stats.covered([], 0, 20), 0)


class ResultLine(unittest.TestCase):
    def test_names_units_and_digits(self):
        line = stats.result_line(True, 12, 0, {"op_ms": (1.234567891, "ms"),
                                               "setup_s": (8, "s")})
        out = json.loads(line)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(out["metrics"]["op_ms"], {"value": 1.234567891, "unit": "ms"})
        self.assertEqual(out["metrics"]["setup_s"], {"value": 8.0, "unit": "s"})
        self.assertIs(out["correct"], True)
        self.assertEqual((out["attempted"], out["failed"]), (12, 0))


class FeedMirror(unittest.TestCase):
    row = (7, 1, "O", 10.0, "1998-01-01 00:00:00", "2-HIGH")

    def test_newest_version_wins_and_insert_beats_delete(self):
        m = {7: self.row}
        upd = (7, 1, "U", 12.5, "1998-01-01 00:00:00", "2-HIGH")
        checks.apply_feed(m, [(2, 3, 7, *self.row), (0, 3, 7, *upd)])
        self.assertEqual(m, {7: upd})
        checks.apply_feed(m, [(0, 3, 7, *upd), (2, 4, 7, *upd)])
        self.assertEqual(m, {})


if __name__ == "__main__":
    unittest.main()
