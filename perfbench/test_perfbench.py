"""Self-tests of the benchmark's own arithmetic and input generator.

Run from the root of the repository:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import tempfile
import unittest

import etlgen
import stats


class TailTest(unittest.TestCase):
    def test_highest_level_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        self.assertEqual(stats.tail(xs), (90, 90, 100, 10, True))

    def test_level_drops_with_fewer_samples(self):
        self.assertEqual(stats.tail(list(range(1, 41))), (75, 30, 40, 10, True))

    def test_too_few_samples_fall_back(self):
        xs = [float(x) for x in range(1, 13)]
        # p50 would leave only 6 beyond: report p90 and flag the rule unmet
        self.assertEqual(stats.tail(xs), (90, 11.0, 12, 1, False))

    def test_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 30 + [2.0] * 9
        self.assertEqual(stats.tail(xs), (90, 2.0, 39, 0, False))
        self.assertEqual(stats.tail(xs + [2.0]), (75, 1.0, 40, 10, True))

    def test_nearest_rank(self):
        s = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0]
        self.assertEqual(stats.nearest_rank(s, 90), 0.9)
        self.assertEqual(stats.nearest_rank(s, 50), 0.5)
        self.assertEqual(stats.nearest_rank([7.0], 90), 7.0)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = {1: (0, 0.0, 10.0),
                 2: (1, 1.0, 4.0), 3: (1, 3.0, 6.0),  # overlap on [3, 4]
                 4: (1, 8.0, 12.0)}  # runs past the parent's end
        self_t = stats.self_times(spans)
        # covered: [1, 6] and [8, 10] -> 7 of 10
        self.assertAlmostEqual(self_t[1], 3.0)
        self.assertAlmostEqual(self_t[2], 3.0)
        self.assertAlmostEqual(self_t[4], 4.0)

    def test_nested_child_inside_sibling(self):
        spans = {1: (0, 0.0, 5.0), 2: (1, 0.0, 5.0), 3: (1, 1.0, 2.0),
                 4: (2, 1.0, 3.0)}
        self_t = stats.self_times(spans)
        self.assertAlmostEqual(self_t[1], 0.0)
        self.assertAlmostEqual(self_t[2], 3.0)

    def test_union_length(self):
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3)], 1.5, 2.5), 1.0)
        self.assertEqual(stats.union_length([]), 0.0)


class CoreBusyShareTest(unittest.TestCase):
    def test_overlapping_tasks(self):
        # two cores, window [0, 10]: tasks [0,10], [0,5], [2,7]
        # concurrency 2 on [0,2], 3 (capped at 2) on [2,5], 2 on [5,7], 1 on [7,10]
        tasks = [(0, 10), (0, 5), (2, 7)]
        busy = stats.busy_core_time(tasks, 0, 10, 2)
        self.assertAlmostEqual(busy, 2 * 2 + 2 * 3 + 2 * 2 + 1 * 3)
        self.assertAlmostEqual(stats.core_busy_share(tasks, [(0, 10)], 2), 17 / 20)

    def test_only_inside_windows(self):
        tasks = [(0, 4), (6, 10)]
        share = stats.core_busy_share(tasks, [(2, 4), (4, 8)], 1)
        self.assertAlmostEqual(share, (2 + 2) / 6)

    def test_empty(self):
        self.assertEqual(stats.core_busy_share([(0, 1)], [], 4), 0.0)


class EtlGeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench_test_")

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def test_planted_counts_match_brute_force(self):
        dates = etlgen.report_dates(3)
        for seed in (1, 7):
            planted = etlgen.generate(seed, self.dir, 700, dates)
            self.assertEqual(planted, etlgen.brute_force_counts(self.dir, dates))

    def test_every_fault_is_planted(self):
        dates = etlgen.report_dates(3)
        fact, dq = etlgen.generate(3, self.dir, 1000, dates)
        self.assertEqual(fact, {d: 1000 for d in dates})
        for d in dates:
            for key in ("source|medium|missing", "source|high|incorrect",
                        "transform|medium|missing"):
                self.assertGreater(dq.get(f"{d}|{key}", 0), 0, key)
        # validity windows that close at the middle date add missing
        # blood groups to the later batches only
        first, last = dates[0], dates[-1]
        self.assertEqual(dq[f"{last}|source|medium|missing"] -
                         dq[f"{first}|source|medium|missing"],
                         round(1000 * etlgen.BLOOD_SHARES["closing"]))

    def test_same_seed_same_inputs(self):
        dates = etlgen.report_dates(2)
        a = os.path.join(self.dir, "a")
        b = os.path.join(self.dir, "b")
        etlgen.generate(5, a, 300, dates)
        etlgen.generate(5, b, 300, dates)
        for f in os.listdir(a):
            with open(os.path.join(a, f)) as x, open(os.path.join(b, f)) as y:
                self.assertEqual(x.read(), y.read(), f)


if __name__ == "__main__":
    unittest.main()
