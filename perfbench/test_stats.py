"""Tests for the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import random
import subprocess
import unittest

import gen_monthly
import run
import stats


class MedianTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertIsNone(stats.median([]))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_nesting(self):
        self.assertAlmostEqual(
            stats.union_length([(0, 2), (1, 3), (5, 6), (5.2, 5.5)]), 4.0)

    def test_touching_intervals(self):
        self.assertAlmostEqual(stats.union_length([(0, 1), (1, 2)]), 2.0)

    def test_gap_clips_to_window(self):
        # jobs cover [1,3] and [4,6] inside the window [2,5]: 3-4 is idle
        self.assertAlmostEqual(stats.gap((2, 5), [(1, 3), (4, 6)]), 1.0)
        self.assertAlmostEqual(stats.gap((0, 10), []), 10.0)
        self.assertAlmostEqual(stats.gap((0, 10), [(-5, 20)]), 0.0)


class SelfTimeTest(unittest.TestCase):
    def test_tree(self):
        spans = [
            {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},
            {"id": 4, "parent": 2, "start": 1.5, "end": 2.0},
            # a job that outlives its parent only counts inside it
            {"id": 5, "parent": 3, "start": 5.0, "end": 8.0},
        ]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got[1], 10.0 - 5.0)
        self.assertAlmostEqual(got[2], 3.0 - 0.5)
        self.assertAlmostEqual(got[3], 3.0 - 1.0)
        self.assertAlmostEqual(got[4], 0.5)
        self.assertAlmostEqual(got[5], 3.0)


class DigestTest(unittest.TestCase):
    def test_order_insensitive(self):
        keys = [(f"place {i}", 1_600_000_000_000 + i) for i in range(500)]
        shuffled = keys[:]
        random.Random(7).shuffle(shuffled)
        self.assertEqual(gen_monthly.key_digest(keys),
                         gen_monthly.key_digest(shuffled))

    def test_content_sensitive(self):
        keys = [("a", 1), ("b", 2)]
        self.assertNotEqual(gen_monthly.key_digest(keys),
                            gen_monthly.key_digest([("a", 1), ("b", 3)]))
        self.assertNotEqual(gen_monthly.key_digest(keys),
                            gen_monthly.key_digest(keys[:1]))

    def test_signed_64_bit(self):
        n, total, _ = gen_monthly.key_digest([("x", i) for i in range(10)])
        self.assertEqual(n, 10)
        self.assertTrue(-(1 << 63) <= total < (1 << 63))


class EngineDigestTest(unittest.TestCase):
    """The sweep's output digest is computed in the JVM; this runs its
    self-check (order and partitioning ignored, content not)."""

    def test_engine_digest(self):
        cp_file = os.path.join(run.WORK, "classpath.txt")
        if not os.path.exists(cp_file):
            self.skipTest("not built yet: run perfbench/run.py once")
        with open(cp_file) as fh:
            classpath = fh.read().strip()
        cmd = ["java", "-Xmx1g"]
        for p in run.JDK_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "perfbench.Main", "--mode", "selftest"]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        self.assertIn("digest selftest ok", out.stdout)


class SpecTest(unittest.TestCase):
    def test_per_layer_matches_benchmark_json(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual(spec["per_layer"], run.per_layer_spec(run.load_workloads()))

    def test_workload_queries_have_digests_and_modules(self):
        workloads = run.load_workloads()
        with open(os.path.join(run.HERE, "digests.tsv")) as fh:
            digests = dict(line.rstrip("\n").split("\t") for line in fh)
        for name in run.PASS_SECONDS:
            for q in workloads.get(name, []):
                self.assertIn(q, digests)
                self.assertIn(q, workloads["modules"])


if __name__ == "__main__":
    unittest.main()
