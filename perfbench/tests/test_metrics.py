"""Metric arithmetic: geometric mean, core utilisation, self time, orders."""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


class GeomeanTest(unittest.TestCase):
    def test_known_values(self):
        self.assertAlmostEqual(metrics.geomean([1, 4]), 2.0)
        self.assertAlmostEqual(metrics.geomean([2, 8, 4]), 4.0)
        self.assertAlmostEqual(metrics.geomean([3.5]), 3.5)

    def test_rejects_empty_and_non_positive(self):
        for bad in ([], [1, 0], [2, -1]):
            with self.assertRaises(ValueError):
                metrics.geomean(bad)

    def test_query_geomean_takes_each_query_median(self):
        times = {"a": [1.0, 9.0, 2.0], "b": [8.0, 8.0, 100.0]}
        self.assertAlmostEqual(metrics.query_geomean(times), 4.0)


class CoreUtilTest(unittest.TestCase):
    def test_run_time_over_available_core_time(self):
        self.assertAlmostEqual(metrics.core_util(run_s=8.0, wall_s=4.0, cores=4), 0.5)
        self.assertAlmostEqual(metrics.core_util(run_s=2.0, wall_s=2.0, cores=1), 1.0)


class SpreadTest(unittest.TestCase):
    def test_quartile_distance_over_median(self):
        values = [10.0] * 5 + [11.0] * 5
        q1, _, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(metrics.spread(values), (q3 - q1) / 10.5)
        self.assertEqual(metrics.spread([3.0] * 10), 0.0)


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start_s": start, "end_s": end, "name": name}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(metrics.self_times([span(0, -1, 1.0, 3.5)]), {0: 2.5})

    def test_children_are_subtracted_once(self):
        spans = [span(0, -1, 0.0, 10.0), span(1, 0, 1.0, 4.0), span(2, 0, 5.0, 6.0),
                 span(3, 1, 1.5, 2.0)]
        own = metrics.self_times(spans)
        self.assertAlmostEqual(own[0], 10.0 - 3.0 - 1.0)
        self.assertAlmostEqual(own[1], 3.0 - 0.5)
        self.assertAlmostEqual(own[3], 0.5)

    def test_overlapping_children_count_their_union(self):
        spans = [span(0, -1, 0.0, 10.0), span(1, 0, 1.0, 5.0), span(2, 0, 3.0, 7.0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 4.0)

    def test_by_name_sums_self_times(self):
        spans = [span(0, -1, 0.0, 4.0, "pass"), span(1, 0, 0.0, 1.0, "q"),
                 span(2, 0, 2.0, 3.0, "q")]
        self.assertEqual(metrics.self_time_by_name(spans), {"pass": 2.0, "q": 2.0})


class SeededOrderTest(unittest.TestCase):
    queries = [f"q{i}" for i in range(8)]

    def test_every_pass_is_a_permutation(self):
        for order in metrics.seeded_orders(self.queries, 7, 3):
            self.assertEqual(sorted(order), sorted(self.queries))

    def test_same_seed_same_orders_other_seed_other_orders(self):
        self.assertEqual(metrics.seeded_orders(self.queries, 1, 3),
                         metrics.seeded_orders(self.queries, 1, 3))
        self.assertNotEqual(metrics.seeded_orders(self.queries, 1, 3),
                            metrics.seeded_orders(self.queries, 2, 3))

    def test_passes_get_their_own_order(self):
        orders = metrics.seeded_orders(self.queries, 3, 3)
        self.assertEqual(len(orders), 4)
        self.assertGreater(len({tuple(o) for o in orders}), 1)


if __name__ == "__main__":
    unittest.main()
