"""Tests for the benchmark's own pure logic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics as M  # noqa: E402
import plan as P  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_more_than_support_samples(self):
        self.assertIsNone(M.tail(list(range(10))))
        self.assertIsNone(M.tail([]))

    def test_eleven_samples_leave_ten_beyond(self):
        value, pct, n = M.tail(list(range(1, 12)))
        self.assertEqual(n, 11)
        self.assertEqual(pct, 9)
        self.assertEqual(value, 1)
        self.assertEqual(sum(1 for x in range(1, 12) if x > value), 10)

    def test_hundred_samples_give_p90(self):
        xs = list(range(100, 0, -1))  # order must not matter
        value, pct, n = M.tail(xs)
        self.assertEqual((value, pct, n), (90, 90, 100))

    def test_always_ten_beyond(self):
        for n in range(11, 400, 7):
            xs = list(range(n))
            value, pct, _ = M.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10, n)
            # One more percent would leave fewer than ten beyond.
            if pct < 99:
                k = -(-(pct + 1) * n // 100)
                self.assertLess(n - k, 10, n)


class FailedShareTest(unittest.TestCase):
    def test_share(self):
        self.assertEqual(M.failed_share(0, 21), 0.0)
        self.assertAlmostEqual(M.failed_share(3, 21), 1 / 7)
        self.assertEqual(M.failed_share(4, 4), 1.0)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            M.failed_share(0, 0)
        with self.assertRaises(ValueError):
            M.failed_share(5, 4)
        with self.assertRaises(ValueError):
            M.failed_share(-1, 4)


class KpisMatchTest(unittest.TestCase):
    ROW = {"subj_avg": 47.11443, "subj_rows": 1402, "ctrl_avg": 49.01535,
           "ctrl_std": float("nan")}

    def test_last_bits_of_a_sum_may_differ(self):
        got = dict(self.ROW, ctrl_avg=49.01535 * (1 + 4e-16))
        self.assertTrue(M.kpis_match(got, self.ROW))

    def test_real_differences_fail(self):
        self.assertFalse(M.kpis_match(dict(self.ROW, ctrl_avg=49.01536), self.ROW))
        self.assertFalse(M.kpis_match(dict(self.ROW, subj_rows=1401), self.ROW))
        self.assertFalse(M.kpis_match(dict(self.ROW, ctrl_std=1.0), self.ROW))
        self.assertFalse(M.kpis_match(dict(self.ROW, subj_avg=None), self.ROW))
        row = dict(self.ROW)
        del row["subj_rows"]
        self.assertFalse(M.kpis_match(row, self.ROW))


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(M.self_time((0, 100), []), 100)

    def test_overlapping_children_count_once(self):
        # [10, 40) and [30, 60) overlap: together they cover 50.
        self.assertEqual(M.self_time((0, 100), [(10, 40), (30, 60)]), 50)

    def test_nested_and_protruding_children(self):
        # [20, 30) lies inside [10, 50); [90, 120) sticks out past 100.
        self.assertEqual(M.self_time((0, 100), [(10, 50), (20, 30), (90, 120)]), 50)

    def test_children_outside_do_not_count(self):
        self.assertEqual(M.self_time((0, 100), [(150, 200), (-50, -10)]), 100)

    def test_span_tree(self):
        spans = [
            {"id": 1, "parent": 0, "start_us": 0, "end_us": 100},
            {"id": 2, "parent": 1, "start_us": 0, "end_us": 30},
            {"id": 3, "parent": 1, "start_us": 20, "end_us": 60},
            {"id": 4, "parent": 3, "start_us": 25, "end_us": 35},
        ]
        self.assertEqual(M.span_self_times(spans), {1: 40, 2: 30, 3: 30, 4: 10})

    def test_spark_jobs_and_stages_nest_under_their_span(self):
        phase = {
            "spans": [
                {"id": 1, "parent": 0, "name": "request", "rid": "r1",
                 "start_us": 0, "end_us": 100_000},
                {"id": 2, "parent": 1, "name": "action", "rid": "r1",
                 "start_us": 50_000, "end_us": 100_000}],
            "jobs": [{"job": 0, "group": "r1", "start_ms": 60, "end_ms": 90},
                     {"job": 1, "group": "r1", "start_ms": 10, "end_ms": 20}],
            "tasks": [{"stage": 0, "job": 0, "start_ms": 61, "end_ms": 70},
                      {"stage": 0, "job": 0, "start_ms": 65, "end_ms": 80}],
        }
        tree = {s["name"] + str(s["start_us"]): s for s in M.trace_tree(phase)}
        self.assertEqual(tree["spark.job60000"]["parent"], 2)
        self.assertEqual(tree["spark.job10000"]["parent"], 1)
        stage = tree["spark.stage61000"]
        self.assertEqual((stage["end_us"], stage["parent"]),
                         (80_000, tree["spark.job60000"]["id"]))
        self.assertEqual(M.self_ms_by_name(M.trace_tree(phase))["action"], 20.0)


class SeedTest(unittest.TestCase):
    def test_request_sequence_is_seeded(self):
        self.assertEqual(P.analytics_passes(7, 3), P.analytics_passes(7, 3))
        self.assertNotEqual(P.analytics_passes(7, 3), P.analytics_passes(8, 3))

    def test_pass_shape(self):
        for seed in range(30):
            for ps in P.analytics_passes(seed, 2):
                n = 1 + P.REPEATS
                self.assertEqual(len(ps), n * len(P.DASHBOARD) + len(P.CURATION))
                self.assertEqual(sorted(ps), sorted(n * P.DASHBOARD + P.CURATION))
                self.assertEqual(set(ps[-len(P.CURATION):]), set(P.CURATION))

    def test_every_round_issues_each_query_once(self):
        n = len(P.DASHBOARD)
        for seed in range(30):
            for ps in P.analytics_passes(seed, 3):
                for r in range(1 + P.REPEATS):
                    self.assertEqual(sorted(ps[r * n:(r + 1) * n]), sorted(P.DASHBOARD))
                # So every repeat follows an earlier request of its query
                # within the last 2n - 1 requests.
                dash = ps[:(1 + P.REPEATS) * n]
                for i in range(n, len(dash)):
                    self.assertIn(dash[i], dash[max(0, i - 2 * n + 1):i], (seed, i))

    def test_stream_start_is_seeded(self):
        a = P.stream_start(5, gen.EVENTS_START, gen.EVENTS_DAYS)
        self.assertEqual(a, P.stream_start(5, gen.EVENTS_START, gen.EVENTS_DAYS))
        self.assertNotEqual(a, P.stream_start(6, gen.EVENTS_START, gen.EVENTS_DAYS))

    def test_generated_tables_are_seeded(self):
        a, b = gen.tables(3, 0.0005), gen.tables(3, 0.0005)
        self.assertEqual(set(a), {"region", "nation", "customer", "supplier", "part",
                                  "orders", "lineitem", "events", "documents",
                                  "embeddings"})
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["events"].equals(gen.tables(4, 0.0005)["events"]))

    def test_event_times_are_distinct(self):
        ev = gen.tables(9, 0.001)["events"]
        ts = ev.column("ts").to_pylist()
        self.assertEqual(len(ts), len(set(ts)))
        self.assertEqual(ts, sorted(ts))


if __name__ == "__main__":
    unittest.main()
