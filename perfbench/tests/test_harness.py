"""Unit tests of the benchmark harness's pure parts.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import harness  # noqa: E402


def beyond(values, p):
    cut = harness.percentile(values, p)
    return sum(1 for v in values if v > cut)


class TailPercentile(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(harness.tail_percentile(19))
        self.assertIsNone(harness.tail_percentile(0))

    def test_highest_grid_point_with_ten_beyond(self):
        self.assertEqual(harness.tail_percentile(20), 50)
        self.assertEqual(harness.tail_percentile(25), 60)
        self.assertEqual(harness.tail_percentile(34), 70)
        self.assertEqual(harness.tail_percentile(40), 75)
        self.assertEqual(harness.tail_percentile(91), 80)
        self.assertEqual(harness.tail_percentile(92), 90)
        self.assertEqual(harness.tail_percentile(1000), 99)

    def test_chosen_percentile_leaves_ten_samples_beyond(self):
        for n in range(20, 400):
            p = harness.tail_percentile(n)
            values = [float(i) for i in range(n)]
            self.assertGreaterEqual(beyond(values, p), 10, n)
            higher = [g for g in harness.TAIL_GRID if g > p]
            if higher:
                self.assertLess(beyond(values, higher[0]), 10, n)

    def test_workload_tails_fit_their_minimum_operation_counts(self):
        for w, (p, n_min) in harness.TAIL.items():
            self.assertEqual(harness.tail_percentile(n_min), p, w)


class ManifestCheck(unittest.TestCase):
    def test_exact_match_passes(self):
        self.assertTrue(harness.matches({"n": 3, "v": 12.0, "extra": 1},
                                        {"n": 3, "v": 12}))

    def test_any_difference_fails(self):
        self.assertFalse(harness.matches({"n": 3, "v": 12.5}, {"n": 3, "v": 12}))
        self.assertFalse(harness.matches({"n": 3}, {"n": 3, "v": 12}))
        self.assertFalse(harness.matches({"n": 2 ** 60 + 1}, {"n": 2 ** 60}))
        self.assertFalse(harness.matches({"n": 3}, None))
        self.assertFalse(harness.matches({"n": 3}, {}))

    def test_check_ops_counts_errors_and_mismatches(self):
        expected = {"a": {"n": 1}, "b": {"n": 2}}
        ops = [
            {"shape": "a", "observed": {"n": 1}, "error": None},
            {"shape": "a", "observed": {"n": 5}, "error": None},
            {"shape": "b", "observed": {}, "error": "IOException: gone"},
            {"shape": "c", "observed": {"n": 1}, "error": None},
        ]
        self.assertEqual(harness.check_ops(ops, expected), 3)
        self.assertEqual([op["ok"] for op in ops], [True, False, False, False])


def span(i, parent, t0, t1, name="s"):
    return {"id": i, "parent": parent, "t0": t0, "t1": t1, "name": name}


class SelfTime(unittest.TestCase):
    def test_leaf_keeps_its_duration(self):
        self.assertEqual(harness.self_times([span(1, 0, 10, 30)]), {1: 20})

    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 50),
                 span(4, 1, 70, 80)]
        st = harness.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 30)

    def test_child_time_outside_the_parent_is_not_subtracted(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130), span(3, 1, -20, 5)]
        self.assertEqual(harness.self_times(spans)[1], 100 - 10 - 5)

    def test_grandchildren_count_only_against_their_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 0, 50)]
        st = harness.self_times(spans)
        self.assertEqual(st[1], 50)
        self.assertEqual(st[2], 0)


def op(nbytes, wall, write=0.0, rows=1):
    return {"bytes": nbytes, "wall_s": wall, "write_s": write, "rows": rows}


class ByteAccounting(unittest.TestCase):
    def test_skipped_bytes_still_count(self):
        # two reads of the same 100 MB file; the pushdown one skips most
        # bytes and finishes sooner, so its rate is higher
        full = harness.mb_per_s([op(100e6, 1.0)])
        pushed = harness.mb_per_s([op(100e6, 0.25)])
        self.assertAlmostEqual(full, 100.0)
        self.assertAlmostEqual(pushed, 400.0)

    def test_rate_is_total_bytes_over_total_time(self):
        self.assertAlmostEqual(
            harness.mb_per_s([op(100e6, 1.0), op(300e6, 1.0)]), 200.0)

    def test_writes_count_write_time_only(self):
        self.assertAlmostEqual(harness.mb_per_s([op(50e6, 2.0, write=0.5)]), 100.0)

    def test_bytes_per_row(self):
        self.assertAlmostEqual(
            harness.bytes_per_row([op(800, 1, rows=100), op(200, 1, rows=100)]), 5.0)


class EndToEnd(unittest.TestCase):
    def test_metrics_and_units(self):
        raw = {"workload": "decode_scan", "setup_s": 12.5,
               "peak_rss_kb": 2048 * 1024,
               "ops": [op(10e6, 0.1 * (i + 1)) for i in range(40)]}
        m = harness.end_to_end(raw)
        self.assertEqual(set(m), {"setup_s", "op_p50_s", "op_tail_s", "mb_per_s",
                                  "peak_rss_mb", "bytes_per_row"})
        self.assertEqual(m["setup_s"], (12.5, "s"))
        self.assertAlmostEqual(m["op_p50_s"][0], 2.05)
        p = harness.TAIL["decode_scan"][0]
        self.assertAlmostEqual(m["op_tail_s"][0],
                               harness.percentile([0.1 * (i + 1) for i in range(40)], p))
        self.assertEqual(m["peak_rss_mb"], (2048.0, "MB"))


if __name__ == "__main__":
    unittest.main()
