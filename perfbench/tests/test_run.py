"""Unit tests of the benchmark's Python-side logic.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import sys
import tempfile
import unittest
from pathlib import Path

import pandas as pd

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import datagen  # noqa: E402
import run  # noqa: E402


class OkRatioTest(unittest.TestCase):
    def test_counts_failures_against_attempts(self):
        self.assertEqual(run.ok_ratio(0, 10), 1.0)
        self.assertEqual(run.ok_ratio(3, 12), 0.75)
        self.assertEqual(run.ok_ratio(12, 12), 0.0)

    def test_rejects_impossible_counts(self):
        for failed, attempted in ((1, 0), (5, 4), (-1, 3)):
            with self.assertRaises(ValueError):
                run.ok_ratio(failed, attempted)


class DatagenTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = Path(d) / "a", Path(d) / "b"
            datagen.generate(5, 0.001, a)
            datagen.generate(5, 0.001, b)
            for p in sorted(a.iterdir()):
                self.assertEqual(p.read_bytes(), (b / p.name).read_bytes(), p.name)

    def test_row_counts_follow_the_fixtures(self):
        with tempfile.TemporaryDirectory() as d:
            rows = datagen.generate(1, 0.01, Path(d))
            self.assertEqual(rows["lineitem"], 60_000)
            self.assertEqual(rows["orders"], 15_000)
            self.assertEqual(rows["events"], 10_000)
            self.assertEqual(rows["documents"], 500)
            self.assertEqual(rows["embeddings"], 500)
            docs = pd.read_parquet(Path(d) / "documents.parquet")
            self.assertEqual(docs.text.str.endswith(" dup").sum(), 25)
            self.assertTrue((docs.n_chars == docs.text.str.len()).all())


if __name__ == "__main__":
    unittest.main()
