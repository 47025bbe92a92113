#!/usr/bin/env python3
"""Seed self-check of the benchmark's inputs.

The same seed must give byte-identical generated tables, incremental
deltas and registry query order; a different seed must change each of
them. Runs at a small scale in a scratch directory under .bench_work/.

Usage (from the repository root): python3 perfbench/test_seed.py
"""
import shutil
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import run  # noqa: E402

WORK = HERE.parent / ".bench_work" / "test_seed"


def digests(d):
    """Per-file content digests of every file under d, by relative path."""
    import hashlib
    return {str(f.relative_to(d)): hashlib.sha256(f.read_bytes()).hexdigest()
            for f in sorted(Path(d).rglob("*")) if f.is_file()}


class SeedTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(WORK, ignore_errors=True)
        cls.fixtures, cls.inc = {}, {}
        for name, seed in (("a", 5), ("b", 5), ("c", 6)):
            gen.fixtures(WORK / name / "fix", 0.002, seed)
            gen.incremental(WORK / name / "inc", WORK / name / "stage", seed, 3, base_rows=2000)
            cls.fixtures[name] = digests(WORK / name / "fix")
            cls.inc[name] = {**digests(WORK / name / "inc"), **{
                "stage/" + k: v for k, v in digests(WORK / name / "stage").items()}}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(WORK, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.fixtures["a"], self.fixtures["b"])
        self.assertEqual(self.inc["a"], self.inc["b"])

    def test_other_seed_other_bytes(self):
        fa, fc = self.fixtures["a"], self.fixtures["c"]
        self.assertEqual(fa.keys(), fc.keys())
        # tables with random content differ; region and nation are constants
        changed = {k for k in fa if fa[k] != fc[k]}
        self.assertEqual(changed, set(fa) - {"region.parquet", "nation.parquet"})
        ia, ic = self.inc["a"], self.inc["c"]
        self.assertEqual(ia.keys(), ic.keys())
        self.assertTrue(all(ia[k] != ic[k] for k in ia))

    def test_query_order(self):
        self.assertEqual(run.query_order(5), run.query_order(5))
        self.assertNotEqual(run.query_order(5), run.query_order(6))
        self.assertEqual(sorted(run.query_order(5)), sorted(run.REGISTRY_MIX))


if __name__ == "__main__":
    unittest.main()
