"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import tempfile
import unittest

import stats


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))          # 1..100
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile([7.0], 0.9), 7.0)
        self.assertEqual(stats.percentile([3, 1, 2], 0.5), 2)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_ten_beyond_rule(self):
        # p90 has ten samples beyond it from 100 samples on, not before
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertEqual(stats.beyond(99, 0.9), 9)
        self.assertEqual(stats.highest_resolved_percentile(100), 90)
        self.assertEqual(stats.highest_resolved_percentile(1000), 99)
        self.assertEqual(stats.highest_resolved_percentile(20), 50)
        self.assertIsNone(stats.highest_resolved_percentile(10))


class Outcome(unittest.TestCase):
    def test_thrown_and_wrong_both_fail(self):
        ops = [{"ok": True, "right": True}, {"ok": False, "right": True},
               {"ok": True, "right": False}, {"ok": True, "right": True}]
        attempted, failed, ratio = stats.outcome(ops, lambda o: o["right"])
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(ratio, 0.5)

    def test_a_thrown_op_is_not_checked(self):
        seen = []
        stats.outcome([{"ok": False}], lambda o: seen.append(o) or True)
        self.assertEqual(seen, [])

    def test_nothing_attempted(self):
        with self.assertRaises(ValueError):
            stats.outcome([], lambda o: True)


class PassRate(unittest.TestCase):
    def test_median_over_passes(self):
        def op(rnd, ms, ok=True, right=True):
            return {"round": rnd, "t0": 0, "t1": ms * 1000, "ok": ok, "right": right}
        ops = [op(1, 500), op(1, 500),                      # 2 ops in 1 s
               op(2, 250), op(2, 250, right=False),         # 1 op in 0.5 s
               op(3, 2000), op(3, 2000, ok=False)]          # 1 op in 4 s
        self.assertAlmostEqual(stats.median_pass_rate(ops), 2.0)


class StoreBytes(unittest.TestCase):
    """A tiny store table laid out as GraftStore lays one out: two live
    data files, one data file a compaction replaced, a deletion-vector
    sidecar, the manifest and two retained snapshots."""

    def setUp(self):
        self.root = tempfile.mkdtemp()
        self.files = {"t/data/part-0-1.bin": 1000, "t/data/part-1-1.bin": 500,
                      "t/data/rw-0-0-p0.bin": 1200, "t/data/part-0-1.bin.dv.ab-2": 40,
                      "t/_manifest": 200, "t/_manifest.v1": 180, "t/_manifest.v2": 200}
        for rel, size in self.files.items():
            path = os.path.join(self.root, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as fh:
                fh.write(b"x" * size)

    def tearDown(self):
        shutil.rmtree(self.root)

    def listing(self):
        out = []
        for d, _, names in os.walk(self.root):
            for n in names:
                p = os.path.join(d, n)
                out.append((os.path.relpath(p, self.root), os.path.getsize(p)))
        return out

    def test_space_amp(self):
        amp = stats.space_amp(self.listing(), ["t/data/part-0-1.bin", "t/data/part-1-1.bin"])
        self.assertAlmostEqual(amp, 3320 / 1500)

    def test_space_amp_rejects_missing_live_file(self):
        with self.assertRaises(ValueError):
            stats.space_amp(self.listing(), ["t/data/part-9-9.bin"])

    def test_write_bytes_per_row_counts_files_later_deleted(self):
        # the compaction's input was created by the first write and is
        # gone from the final listing, but its bytes were still written
        writes = [{"created": [["t/data/rw-0-0-p0.bin", 1200], ["t/_manifest.v1", 180]]},
                  {"created": [["t/data/part-0-1.bin", 1000], ["t/data/part-1-1.bin", 500],
                               ["t/data/part-0-1.bin.dv.ab-2", 40], ["t/_manifest.v2", 200]]},
                  {}]
        self.assertAlmostEqual(stats.write_bytes_per_row(writes, 40), 3120 / 40)
        with self.assertRaises(ValueError):
            stats.write_bytes_per_row(writes, 0)

    def test_file_churn_counts_the_first_write_of_a_round(self):
        # an INSERT into a fresh table adds files with nothing before it;
        # a CoW rewrite replaces one file; a write that threw is skipped
        writes = [{"ok": True, "live_before": [], "live": ["a", "b"]},
                  {"ok": True, "live_before": ["a", "b"], "live": ["a", "c", "d"]},
                  {"ok": False, "live_before": ["a", "c", "d"], "live": ["a", "c", "d"]}]
        self.assertEqual(stats.file_churn(writes), (2.0, 0.5))


class SelfTime(unittest.TestCase):
    def test_nested_and_overlapping_spans_account_for_the_root(self):
        spans = [
            {"id": 1, "parent": None, "start": 0, "end": 100},   # op
            {"id": 2, "parent": 1, "start": 0, "end": 40},       # builder call
            {"id": 3, "parent": 2, "start": 5, "end": 15},       # analysis
            {"id": 4, "parent": 1, "start": 40, "end": 100},     # collect
            {"id": 5, "parent": 4, "start": 50, "end": 80},      # job
            {"id": 6, "parent": 4, "start": 70, "end": 90},      # overlapping job
        ]
        got = stats.self_times(spans)
        self.assertEqual(got, {2: 30, 3: 10, 4: 20, 5: 20, 6: 20})
        self.assertEqual(sum(got.values()), 100)

    def test_gap_in_children_goes_to_parent(self):
        spans = [{"id": 1, "parent": None, "start": 0, "end": 10},
                 {"id": 2, "parent": 1, "start": 2, "end": 4}]
        self.assertEqual(stats.self_times(spans), {1: 8, 2: 2})


if __name__ == "__main__":
    unittest.main()
