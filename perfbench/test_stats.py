"""Tests of the benchmark's own accounting.

Run from the repository root: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import stats


def transit_raw(due, seen, has_weather=None, check=None, first=1):
    """A minimal raw record: `due` per tick, `seen` per view per tick."""
    n = len(due)
    return {"first": first, "due_ns": due, "seen_ns": seen, "limit_ms": 10000,
            "has_weather": has_weather or [False] * n, "events": [1] * n,
            "check": check or {v: "" for v in stats.VIEWS}, "window_s": 1.0,
            "setup_s": [1.0, 2.0, 3.0], "heap_live_mb": 50.0}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(list(reversed(xs)), 0.9), 90)

    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))  # rank 90, 9 beyond
        self.assertEqual(stats.percentile(list(range(100)), 0.9), 89)  # rank 90, 10 beyond
        self.assertIsNone(stats.percentile(list(range(19)), 0.5))
        self.assertEqual(stats.percentile(list(range(20)), 0.5), 9)
        self.assertIsNone(stats.percentile(list(range(999)), 0.99))
        self.assertIsNone(stats.percentile([], 0.5))

    def test_summary_refuses_too_few_operations(self):
        with self.assertRaises(ValueError):
            stats.summarize([1.0] * 49, 10000)  # p80 needs 50
        self.assertEqual(stats.summarize([1.0] * 50, 10000)["latency_p80_ms"], 1.0)

    def test_failures_rank_above_successes(self):
        lat = [1.0] * 75 + [None] * 25
        out = stats.summarize(lat, 10000)
        self.assertEqual(out["latency_p50_ms"], 1.0)
        self.assertEqual(out["latency_p80_ms"], 10000)  # lands on a failure: reads as the limit


class LatencyTest(unittest.TestCase):
    MS = 1_000_000

    def test_timed_from_due_not_from_release(self):
        # the generator released this tick 300 ms late; the view showed it
        # 100 ms after release: the sample is 400 ms, not 100 ms
        due, released = 5_000 * self.MS, 5_300 * self.MS
        self.assertEqual(stats.latency_ms(due, released + 100 * self.MS, 10000), 400.0)

    def test_late_generator_in_a_run(self):
        # tick 2 is released late and tick 3 queues behind it; both count the stall
        due = [0, 100 * self.MS, 200 * self.MS, 300 * self.MS]
        seen = [0, 150 * self.MS, 900 * self.MS, 910 * self.MS]
        raw = transit_raw(due, {"counts": seen, "platforms": seen, "weather": seen})
        lat = sorted(x for _, _, x in stats.transit_ops(raw))
        self.assertEqual(lat, [50.0, 50.0, 610.0, 610.0, 700.0, 700.0])

    def test_past_the_limit_is_a_failure(self):
        self.assertIsNone(stats.latency_ms(0, 10_001 * self.MS, 10000))
        self.assertEqual(stats.latency_ms(0, 10_000 * self.MS, 10000), 10000.0)

    def test_never_visible_is_a_failure(self):
        due = [0, 100 * self.MS, 200 * self.MS]
        ok = [0, 150 * self.MS, 250 * self.MS]
        raw = transit_raw(due, {"counts": ok, "platforms": [0, 150 * self.MS, None],
                                "weather": ok})
        ops = stats.transit_ops(raw)
        self.assertEqual(len(ops), 4)  # weather has no reading in these ticks
        self.assertEqual([(v, i) for v, i, x in ops if x is None], [("platforms", 2)])

    def test_wrong_view_fails_all_its_samples(self):
        due = [0, 100 * self.MS, 200 * self.MS]
        seen = [0, 150 * self.MS, 250 * self.MS]
        raw = transit_raw(due, {v: seen for v in stats.VIEWS},
                          check={"counts": "3 keys differ", "platforms": "", "weather": ""})
        failed = [(v, i) for v, i, x in stats.transit_ops(raw) if x is None]
        self.assertEqual(failed, [("counts", 1), ("counts", 2)])

    def test_end_to_end_counts_failures_against_attempts(self):
        n = 61
        due = [i * 100 * self.MS for i in range(n)]
        seen = [d + 5 * self.MS for d in due]
        never = list(seen)
        never[7] = None
        raw = transit_raw(due, {"counts": seen, "platforms": never, "weather": seen},
                          has_weather=[i % 12 == 0 for i in range(n)])
        m, attempted, failed, correct = stats.end_to_end("transit_live", raw, {})
        self.assertEqual(attempted, 60 + 60 + 5)
        self.assertEqual(failed, 1)
        self.assertTrue(correct)
        self.assertAlmostEqual(m["latency_p50_ms"], 5.0)
        self.assertEqual(m["setup_s"], 2.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": "a", "name": "operators.action", "start": 0.0, "end": 10.0, "parent": None},
            {"id": "j1", "name": "spark.job", "start": 1.0, "end": 4.0, "parent": "a"},
            {"id": "j2", "name": "spark.job", "start": 3.0, "end": 6.0, "parent": "a"},
            {"id": "j3", "name": "spark.job", "start": 9.0, "end": 12.0, "parent": "a"},
        ]
        out = stats.self_time(spans)
        self.assertEqual(out["operators"], 10.0 - 5.0 - 1.0)
        self.assertEqual(out["spark"], 9.0)
        self.assertFalse(math.isnan(out["operators"]))


if __name__ == "__main__":
    unittest.main()
