"""Unit tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics as M  # noqa: E402


def trig(start_off, end_off, start_ms, trigger_ms, rows=None):
    return {"start_off": start_off, "end_off": end_off, "start_ms": start_ms,
            "rows": end_off - start_off if rows is None else rows,
            "durations": {"triggerExecution": trigger_ms}}


class DueTimeLatency(unittest.TestCase):
    def test_due_time_of_a_paced_row(self):
        # 2000 rows/s: paced row 500 is due 250 ms after t0
        self.assertEqual(M.due_ms(10_000, 2000, 500), 10_250)
        self.assertEqual(M.due_ms(10_000, 2000, 0), 10_000)

    def test_latency_is_trigger_end_minus_oldest_row_due(self):
        # paced rows 500.. at 2000 rows/s: oldest due at 10 250; the
        # trigger starts at 10 400 and runs 120 ms, ending at 10 520
        self.assertEqual(M.trigger_latency_ms(10_000, 2000, 500, 10_400, 120), 270)

    def test_samples_from_offset_ranges(self):
        # 100 priming rows, then 3000 paced rows at 1000 rows/s from
        # t0 = 5000, the first 1000 of them warm-up, then the backlog
        t = {"t0_ms": 5000, "rate": 1000.0, "prime_rows": 100, "warm_rows": 1000,
             "paced_rows": 3000,
             "triggers": [trig(0, 100, 10, 4000),          # priming (cold)
                          trig(100, 1100, 5050, 100),      # warm-up
                          trig(1100, 1600, 6100, 100),     # 6200 - 6000
                          trig(1600, 3100, 6600, 1500),    # 8100 - 6500
                          trig(3100, 8100, 9100, 900)]}    # saturated
        self.assertEqual(M.paced_samples(t), [200, 1600])
        self.assertEqual(M.cold_trigger_s(t), 4.0)
        self.assertEqual([tr["start_off"] for tr in M.saturated_triggers(t)], [3100])

    def test_a_trigger_straddling_the_backlog_is_not_a_sample(self):
        t = {"t0_ms": 0, "rate": 1000.0, "prime_rows": 0, "warm_rows": 0,
             "paced_rows": 3000, "triggers": [trig(2500, 4000, 2600, 300)]}
        self.assertEqual(M.paced_samples(t), [])


class Drain(unittest.TestCase):
    def test_drain_rate_over_saturated_triggers(self):
        t = {"prime_rows": 0, "paced_rows": 100, "triggers": [
            trig(0, 100, 0, 50),
            trig(100, 1100, 1000, 400),
            trig(1100, 2100, 1400, 600)]}
        self.assertEqual(M.drain_seconds(t), 1.0)
        self.assertEqual(M.drain_rows_per_s(t), 2000.0)

    def test_no_saturated_trigger(self):
        t = {"prime_rows": 0, "paced_rows": 100, "triggers": [trig(0, 100, 0, 50)]}
        self.assertIsNone(M.drain_seconds(t))
        self.assertIsNone(M.drain_rows_per_s(t))


class GeometricMean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(M.geomean([2, 8]), 4.0)
        self.assertAlmostEqual(M.geomean([3_000_000, 9_200]),
                               math.sqrt(3_000_000 * 9_200))
        self.assertAlmostEqual(M.geomean([5.0]), 5.0)

    def test_each_topology_weighs_the_same(self):
        # doubling any one member scales the mean by the same factor
        base = M.geomean([1e6, 1e4, 1e2])
        self.assertAlmostEqual(M.geomean([2e6, 1e4, 1e2]) / base,
                               M.geomean([1e6, 1e4, 2e2]) / base)

    def test_rejects_empty_and_non_positive(self):
        for xs in ([], [1.0, 0.0], [-1.0]):
            with self.assertRaises(ValueError):
                M.geomean(xs)


class TailPercentile(unittest.TestCase):
    def test_p95_needs_ten_samples_beyond(self):
        self.assertEqual(M.tail_percentile(200), 95)
        self.assertEqual(M.tail_percentile(1000), 95)
        # 199 samples: p95's rank 190 leaves only 9 above it
        self.assertEqual(M.tail_percentile(199), 94)

    def test_fewer_samples_give_a_lower_percentile(self):
        self.assertEqual(M.tail_percentile(50), 80)
        self.assertEqual(M.tail_percentile(20), 50)
        self.assertIsNone(M.tail_percentile(19))
        self.assertIsNone(M.tail_percentile(10))
        self.assertIsNone(M.tail_percentile(0))

    def test_rank_leaves_ten_samples_above(self):
        for n in range(20, 400):
            q = M.tail_percentile(n)
            rank = math.ceil(q / 100 * n)
            self.assertGreaterEqual(n - rank, 10, n)
            # and one more percent would not
            if q < 95:
                self.assertLess(n - math.ceil((q + 1) / 100 * n), 10, n)

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 201))
        self.assertEqual(M.percentile(xs, 95), 190)
        self.assertEqual(M.percentile(xs, 50), 100)
        self.assertEqual(M.percentile([7], 95), 7)


class BuildShare(unittest.TestCase):
    def test_share(self):
        self.assertAlmostEqual(M.build_share(0.7, 1.0), 0.7)
        self.assertEqual(M.build_share(0.0, 0.0), 0.0)

    def test_split(self):
        shares = {"graph_kcore": 0.95, "unigram_learn": 0.6, "mid": 0.45,
                  "q_top_brands": 0.3, "dataclean": 0.05}
        driver, execb = M.split_by_build_share(shares)
        self.assertEqual(driver, ["graph_kcore", "unigram_learn"])
        self.assertEqual(execb, ["dataclean", "q_top_brands"])


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": 1, "parent": 0, "start_us": 0, "end_us": 100},
            {"id": 2, "parent": 1, "start_us": 10, "end_us": 40},
            {"id": 3, "parent": 1, "start_us": 30, "end_us": 60},  # overlaps 2
            {"id": 4, "parent": 2, "start_us": 10, "end_us": 20},
        ]
        st = M.self_times(spans)
        self.assertEqual(st[1], 50)
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 10)

    def test_union(self):
        self.assertEqual(M.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(M.union_ms([]), 0)


if __name__ == "__main__":
    unittest.main()
