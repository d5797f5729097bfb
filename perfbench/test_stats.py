#!/usr/bin/env python3
"""Tests for the benchmark's own arithmetic and output checks.

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_docs  # noqa: E402
import gen_lake  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        v, p, beyond = stats.tail(xs)
        self.assertEqual((v, p, beyond), (90, 90.0, 10))

    def test_larger_sample_reaches_p99(self):
        xs = list(range(1, 1001))
        self.assertEqual(stats.tail(xs), (990, 99.0, 10))

    def test_few_samples_fall_back_to_median(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(stats.tail(xs), (3.0, 50.0, 2))

    def test_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 30 + [2.0] * 9
        # no percentile has ten samples strictly above it
        v, p, beyond = stats.tail(xs)
        self.assertEqual((v, p), (1.0, 50.0))
        self.assertEqual(beyond, 9)

    def test_nearest_rank_percentile(self):
        self.assertEqual(stats.percentile([3, 1, 2, 4], 50), 2)
        self.assertEqual(stats.percentile([3, 1, 2, 4], 75), 3)
        self.assertEqual(stats.percentile([7], 99.9), 7)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertAlmostEqual(stats.self_time((0.0, 5.0), []), 5.0)

    def test_disjoint_children(self):
        self.assertAlmostEqual(stats.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertAlmostEqual(stats.self_time((0, 10), [(1, 4), (3, 6), (2, 5)]), 5)

    def test_children_clipped_to_the_span(self):
        self.assertAlmostEqual(stats.self_time((2, 8), [(0, 3), (7, 12), (20, 30)]), 4)

    def test_union_length(self):
        self.assertAlmostEqual(stats.union_length([(0, 1), (1, 2), (4, 5)]), 3)


class RatioTest(unittest.TestCase):
    def test_failed_frac(self):
        self.assertEqual(stats.failed_frac(0, 40), 0.0)
        self.assertEqual(stats.failed_frac(3, 12), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)

    def test_latency_growth_flat_and_rising(self):
        self.assertAlmostEqual(stats.latency_growth([2.0] * 12), 1.0)
        series = [1, 1, 1, 2, 2, 2, 2, 2, 2, 3, 3, 3]
        self.assertAlmostEqual(stats.latency_growth(series), 3.0)

    def test_latency_growth_short_series(self):
        self.assertAlmostEqual(stats.latency_growth([2.0, 3.0]), 1.5)

    def test_growth_per_step(self):
        self.assertEqual(stats.growth_per_step([4, 5, 6, 7]), 1.0)
        self.assertEqual(stats.growth_per_step([4]), 0.0)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class CheckTest(unittest.TestCase):
    def test_elt_counts_and_reconcile(self):
        exp = {"jhub": {"jhublogs": 10}, "vk": {"groups": 1, "members": 4}}
        ok = [{"pipeline": "jhub", "table": "jhublogs", "rows": 10, "served": 10,
               "consistent": True},
              {"pipeline": "vk", "table": "groups", "rows": 1, "served": 1,
               "consistent": True},
              {"pipeline": "vk", "table": "members", "rows": 4, "served": 4,
               "consistent": True}]
        bad = [dict(ok[0], consistent=False), ok[1],
               {"pipeline": "vk", "table": "members", "error": "boom"}]
        res = {"ops": [{"tables": ok}, {"tables": bad}, {"tables": ok[:2]}]}
        attempted, failed, problems = run.check_elt(res, {"expected": exp})
        self.assertEqual((attempted, failed), (9, 3))
        self.assertEqual(len(problems), 3)

    def test_stream_labels(self):
        labels = {1: "unique", 2: "unique", 3: "resend", 4: "near"}
        info = {"labels": labels}
        docs = run.STREAM_DOCS
        run.STREAM_DOCS = 2
        try:
            res = {"kept_ids": [1, 2], "batches_landed": 2}
            self.assertEqual(run.check_stream(res, info), (2, 0, []))
            res = {"kept_ids": [1, 2, 3], "batches_landed": 2}
            attempted, failed, problems = run.check_stream(res, info)
            self.assertEqual((attempted, failed), (2, 1))
            res = {"kept_ids": [1, 2, 4], "batches_landed": 2}  # near kept
            self.assertEqual(run.check_stream(res, info)[:2], (2, 2))
        finally:
            run.STREAM_DOCS = docs


class GeneratorTest(unittest.TestCase):
    def test_docs_are_seeded_and_labelled(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            la = gen_docs.generate(a, 5, batches=3, docs=50)
            lb = gen_docs.generate(b, 5, batches=3, docs=50)
            self.assertEqual(la, lb)
            with open(os.path.join(a, "batch_0001.json")) as f, \
                    open(os.path.join(b, "batch_0001.json")) as g:
                self.assertEqual(f.read(), g.read())
            self.assertEqual(set(la[i] for i in range(1, 51)), {"unique"})
            self.assertEqual(set(la.values()), {"unique", "resend", "near"})

    def test_lake_volumes_fixed_content_seeded(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen_lake.generate(a, 1, 0.002)
            gen_lake.generate(b, 2, 0.002)
            p = "monkey/responses/responses_0.json"
            with open(os.path.join(a, p)) as f, open(os.path.join(b, p)) as g:
                x, y = f.read().splitlines(), g.read().splitlines()
            self.assertEqual(len(x), len(y))
            self.assertNotEqual(x, y)
        counts = gen_lake.expected_counts(1.0)
        self.assertEqual(sum(sum(t.values()) for t in counts.values()), 1734003)


if __name__ == "__main__":
    unittest.main()
