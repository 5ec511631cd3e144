"""Self-tests of the benchmark's arithmetic.

    python3 -m unittest discover -s cdcbench -p 'test_*.py'
"""
import unittest

import stats


def prog(batch, start, ms, s_off, e_off, **durations):
    return {"batch": batch, "start_ms": start, "rows": 10, "start_off": s_off, "end_off": e_off,
            "durations": dict(durations, triggerExecution=ms)}


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertEqual(stats.tail_percentile(11), 9)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_every_qualifying_percentile_leaves_ten_beyond(self):
        for n in range(11, 300):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            v = stats.percentile(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            v1 = stats.percentile(xs, p + 1) if p < 99 else None
            if v1 is not None:
                self.assertLess(sum(1 for x in xs if x > v1), 10, n)

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertEqual(stats.percentile(xs, 1), 1)


class FileToTrigger(unittest.TestCase):
    def test_spool_offsets_are_file_counts(self):
        trigs = stats.triggers([
            prog(0, 1000, 300, None, "2"),
            prog(1, 2000, 400, "2", "3"),
            prog(2, 2500, 100, "3", "3"),  # no data: dropped
            prog(3, 3000, 500, "3", "5"),
        ])
        self.assertEqual([t["batch"] for t in trigs], [0, 1, 3])
        self.assertEqual([stats.trigger_of_file(p, trigs)["batch"] for p in (1, 2, 3, 4, 5)],
                         [0, 0, 1, 3, 3])
        self.assertIsNone(stats.trigger_of_file(6, trigs))

    def test_file_source_log_offsets(self):
        self.assertEqual(stats.files_consumed(None), 0)
        self.assertEqual(stats.files_consumed('{"logOffset":0}'), 1)
        self.assertEqual(stats.files_consumed("7"), 7)
        trigs = stats.triggers([prog(1, 0, 10, '{"logOffset":0}', '{"logOffset":1}')])
        self.assertEqual(stats.trigger_of_file(2, trigs)["batch"], 1)
        self.assertIsNone(stats.trigger_of_file(1, trigs))

    def test_freshness_runs_from_due_time_to_trigger_end(self):
        trigs = stats.triggers([prog(1, 2000, 400, "2", "3"), prog(2, 3000, 500, "3", "5")])
        # file 3 due at 1900 published by trigger 1 ending at 2400;
        # files 4 and 5 published by trigger 2 ending at 3500
        self.assertEqual(stats.freshness([(3, 1900), (4, 2600), (5, 2900), (6, 3100)], trigs),
                         [500, 900, 600])

    def test_backlog_and_saturation(self):
        trigs = stats.triggers([prog(1, 1000, 500, "0", "1"), prog(2, 1600, 500, "1", "2")])
        self.assertEqual(stats.backlog([(1, 1000), (2, 2000), (3, 3000)], trigs), [1, 1, 1])
        self.assertEqual(stats.backlog([(1, 0), (2, 100), (3, 200)], []), [1, 2, 3])
        self.assertFalse(stats.saturated([1, 1, 2, 1, 1, 2]))
        self.assertTrue(stats.saturated([1, 1, 2, 3, 4, 5]))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, s, e):
        return {"id": i, "parent": parent, "start": s, "end": e, "name": f"s{i}", "ref": "b"}

    def test_children_covered_time_is_subtracted_once(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 30), self.span(2, 0, 20, 50),
                 self.span(3, 0, 90, 120), self.span(4, 1, 12, 14)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 40 - 10)  # children cover [10,50) and [90,100)
        self.assertEqual(st[1], 20 - 2)         # its own child only
        self.assertEqual(st[4], 2)

    def test_union(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)
        self.assertEqual(stats.union_ms([]), 0)


class Overhead(unittest.TestCase):
    def test_percent_of_untraced(self):
        self.assertAlmostEqual(stats.overhead_pct(200.0, 210.0), 5.0)
        self.assertAlmostEqual(stats.overhead_pct(200.0, 190.0), -5.0)
        self.assertEqual(stats.overhead_pct(0.0, 10.0), 0.0)


if __name__ == "__main__":
    unittest.main()
