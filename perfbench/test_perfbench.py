"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        # 100 samples 1..100: p90 is the 90th sample, with exactly 10 above it
        self.assertEqual(metrics.tail_percentile(list(range(100, 0, -1))), (90, 90, 10))

    def test_highest_qualifying_percentile(self):
        # 1000 samples: p99 has 10 beyond; p99.x is not a whole percentile
        self.assertEqual(metrics.tail_percentile(list(range(1, 1001))), (99, 990, 10))

    def test_odd_count_rounds_rank_up(self):
        # 350 samples: p97 has rank ceil(339.5) = 340 and 10 beyond; p98 only 7
        self.assertEqual(metrics.tail_percentile([float(x) for x in range(1, 351)]), (97, 340.0, 10))

    def test_too_few_samples_still_reports_p90(self):
        # 99 samples: p90 has rank 90 and only 9 beyond
        self.assertEqual(metrics.tail_percentile(list(range(1, 100))), (90, 90, 9))
        # 30 samples: rank 27, 3 beyond; 3 samples: the maximum
        self.assertEqual(metrics.tail_percentile(list(range(1, 31))), (90, 27, 3))
        self.assertEqual(metrics.tail_percentile([5.0, 1.0, 3.0]), (90, 5.0, 0))

    def test_no_samples(self):
        self.assertIsNone(metrics.tail_percentile([]))


def span(i, parent, start, end, name="s", op=1):
    return {"id": i, "parent": parent, "op": op, "name": name, "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(metrics.self_times([span(1, 0, 10, 25)]), {1: 15})

    def test_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)]
        self.assertEqual(metrics.self_times(spans), {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        # two concurrent children cover [10, 40) together
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 40)]
        self.assertEqual(metrics.self_times(spans)[1], 70)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 120)]
        self.assertEqual(metrics.self_times(spans)[1], 90)

    def test_only_direct_children(self):
        # grandchild time is inside the child, not subtracted twice
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 60), span(3, 2, 20, 40)]
        self.assertEqual(metrics.self_times(spans), {1: 50, 2: 30, 3: 20})


def fake_clean_payloads(root):
    """GenData's clean payload layout: two days, every event id of the range."""
    for day, ids in (("2024-01-01", range(0, 3000)), ("2024-01-02", range(3000, 6000))):
        os.makedirs(os.path.join(root, f"day={day}"))
        with open(os.path.join(root, f"day={day}", "part-00000.txt"), "w") as fh:
            fh.write("".join(f'{i}\t{{"correlation_id":"{i}","speed":{i % 90}}}\n' for i in ids))


class SeedDeterminism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.clean = os.path.join(cls.tmp.name, "clean")
        fake_clean_payloads(cls.clean)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def files(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            inputs.write(workload, seed, d, self.clean)
            out = {}
            for base, _, names in os.walk(d):
                for f in sorted(names):
                    p = os.path.join(base, f)
                    with open(p) as fh:
                        out[os.path.relpath(p, d)] = fh.read()
            return out

    def test_same_seed_same_inputs(self):
        for w in ("serve_api", "nightly_batch"):
            self.assertEqual(self.files(w, 7), self.files(w, 7), w)

    def test_other_seed_other_inputs(self):
        for w in ("serve_api", "nightly_batch"):
            self.assertNotEqual(self.files(w, 7), self.files(w, 8), w)

    def test_corrupt_copies_follow_their_event(self):
        f = self.files("nightly_batch", 5)
        cuts = dict(inputs.corruptions(5))
        lines = f[os.path.join("payloads", "2024-01-01.txt")].splitlines()
        corrupt = [i for i in range(3000) if i in cuts]
        self.assertEqual(len(lines), 3000 + len(corrupt))
        self.assertEqual(f["corrupt_per_day.tsv"].splitlines()[0], f"2024-01-01\t{len(corrupt)}")
        i = corrupt[0]
        whole = lines[i + corrupt.index(i)]
        self.assertEqual(lines[i + corrupt.index(i) + 1], whole[:int(len(whole) * cuts[i])])

    def test_request_mix_is_fixed(self):
        _, reqs = inputs.serve_requests(3)
        for i in range(0, 100, 10):
            kinds = sorted(r.split("\t")[0] for r in reqs[i:i + 10])
            self.assertEqual(kinds, sorted(k for k, _ in inputs.DECK))

    def test_corruptions_are_about_one_percent(self):
        n = len(inputs.corruptions(5))
        self.assertTrue(700 < n < 1300, n)

    def test_kernel_order_is_a_permutation(self):
        self.assertEqual(sorted(inputs.kernel_order(11)), sorted(inputs.KERNELS))


if __name__ == "__main__":
    unittest.main()
