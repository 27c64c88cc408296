import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import oracle  # noqa: E402


def span(i, t0, t1, parent=0, op=0, name="s"):
    return {"id": i, "name": name, "t0": t0, "t1": t1, "parent": parent, "op": op}


class TailTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(metrics.tail(list(range(200)))[0], 95.0)
        self.assertEqual(metrics.tail(list(range(100)))[0], 90.0)
        self.assertEqual(metrics.tail(list(range(40)))[0], 75.0)
        self.assertEqual(metrics.tail(list(range(20)))[0], 50.0)

    def test_small_samples_fall_back_to_p90(self):
        self.assertEqual(metrics.tail([float(x) for x in range(11)]), (90.0, 9.0))

    def test_percentile_interpolates(self):
        self.assertAlmostEqual(metrics.percentile([0, 10], 25), 2.5)
        self.assertAlmostEqual(metrics.percentile(list(range(101)), 90), 90.0)


class SelfTimeTest(unittest.TestCase):
    def test_nested_children(self):
        spans = [span(1, 0, 100), span(2, 10, 40, parent=1), span(3, 12, 20, parent=2)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 70)
        self.assertEqual(st[2], 22)
        self.assertEqual(st[3], 8)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 100), span(2, 10, 50, parent=1), span(3, 30, 70, parent=1)]
        self.assertEqual(metrics.self_times(spans)[1], 40)

    def test_children_outside_parent_are_clipped(self):
        spans = [span(1, 0, 10), span(2, 5, 30, parent=1)]
        self.assertEqual(metrics.self_times(spans)[1], 5)


class AttributionTest(unittest.TestCase):
    ops = [{"id": 0, "t0": 0, "t1": 100}, {"id": 1, "t0": 100, "t1": 200}]

    def test_group_wins_over_window(self):
        jobs = [{"id": 7, "t0": 150, "group": "op-0"}]
        got, orphans = metrics.attribute_jobs(self.ops, jobs)
        self.assertEqual([j["id"] for j in got[0]], [7])
        self.assertEqual(got[1], [])
        self.assertEqual(orphans, [])

    def test_groupless_job_goes_to_its_window(self):
        jobs = [{"id": 8, "t0": 120, "group": None}]
        got, _ = metrics.attribute_jobs(self.ops, jobs)
        self.assertEqual([j["id"] for j in got[1]], [8])

    def test_jobs_outside_every_window_are_reported(self):
        jobs = [{"id": 9, "t0": 250, "group": None}, {"id": 10, "t0": 50, "group": "memo:x"}]
        got, orphans = metrics.attribute_jobs(self.ops, jobs, window=(0, 300))
        self.assertEqual([j["id"] for j in orphans], [9])
        self.assertEqual(got, {0: [], 1: []})

    def test_driver_only_time(self):
        self.assertEqual(metrics.union_ms([(10, 20), (15, 30), (50, 60)], 0, 100), 30)


class DigestTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = oracle.digest(["x", "y"], [(1, "a"), (2, None)])
        b = oracle.digest(["y", "x"], [(None, 2), ("a", 1)])
        self.assertEqual(a, b)

    def test_values_matter(self):
        self.assertNotEqual(oracle.digest(["x"], [(1,)]), oracle.digest(["x"], [(2,)]))


if __name__ == "__main__":
    unittest.main()
