"""Tests of the benchmark's own arithmetic and generator.

Run from the repository root:  python3 -m unittest discover -s perfbench
"""
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile(v, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples: p90 leaves exactly 10 beyond it, p95 only 5
        self.assertEqual(stats.tail_percentile(list(range(100)))[0], 90.0)
        # 1000 samples: p99 leaves 10 beyond it, p99.9 only 1
        p, v, n = stats.tail_percentile(list(range(1000)))
        self.assertEqual((p, v, n), (99.0, 989, 1000))
        # 20 samples: only the median leaves 10 beyond it
        self.assertEqual(stats.tail_percentile(list(range(20)))[0], 50.0)
        # 19 samples: no percentile on the ladder qualifies
        self.assertEqual(stats.tail_percentile(list(range(19))), (None, None, 19))

    def test_unsorted_input(self):
        v = [5, 1, 4, 2, 3] * 20
        self.assertEqual(stats.tail_percentile(v), (90.0, 5, 100))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertIsNone(stats.median([]))


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "startMs": start, "endMs": end}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 3), span(3, 1, 2, 5), span(4, 1, 7, 8)]
        self.assertEqual(stats.self_times(spans)[1], 10 - 4 - 1)

    def test_nested_children_only_count_for_their_parent(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 0, 6), span(3, 2, 1, 5)]
        st = stats.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (4, 2, 4))

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 8, 14)]
        self.assertEqual(stats.self_times(spans)[1], 8)

    def test_leaf_self_time_is_duration(self):
        self.assertEqual(stats.self_times([span(5, 0, 2.5, 4.0)])[5], 1.5)

    def test_attribution_picks_containing_window(self):
        att = stats.Attributor([(10, 20, "b"), (0, 5, "a")])
        self.assertEqual([att.find(t) for t in (-1, 0, 5, 7, 15, 21)],
                         [None, "a", "a", None, "b", None])


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            h.update(open(p, "rb").read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        # inside the checkout, like everything the benchmark writes
        base = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench", "tmp")
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="test-", dir=base)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def digest(self, family, seed, tag):
        out = os.path.join(self.tmp, f"{family}-{seed}-{tag}")
        planted = gen.generate(family, seed, out)
        return tree_digest(out), planted

    def check_family(self, family):
        a, pa = self.digest(family, 7, "a")
        b, pb = self.digest(family, 7, "b")
        c, _ = self.digest(family, 8, "c")
        self.assertEqual(a, b, "same seed must give byte-identical inputs")
        self.assertEqual(pa, pb)
        self.assertNotEqual(a, c, "a different seed must give different inputs")
        return pa

    def test_tables(self):
        p = self.check_family("tables")
        self.assertEqual(p["rows"]["lineitem"], gen.SIZES["tables"]["lineitem"])

    def test_corpus(self):
        p = self.check_family("corpus")
        s = gen.SIZES["corpus"]
        self.assertEqual(len(p["batches"]), s["deltas"] + 1)
        self.assertEqual(len(p["batches"][1]["exact_dups"]), s["delta_exact_dups"])
        self.assertEqual(len(p["batches"][0]["near_dups"]), s["base_near_dups"])

    def test_feed(self):
        p = self.check_family("feed")
        inv = p["invocations"]
        s = gen.SIZES["feed"]
        self.assertEqual(len(inv), s["deltas"] + 1)
        for k, i in enumerate(inv):
            self.assertLess(i["failed"], 0.05 * i["processed"])
            self.assertEqual(i["processed"] - i["failed"], i["sequence_rows"])
            if k:
                self.assertEqual((i["new"], i["deleted"]),
                                 (s["delta_new"], s["delta_deleted"]))


if __name__ == "__main__":
    unittest.main()
