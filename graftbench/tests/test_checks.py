"""The benchmark's output checks fire on a planted wrong expected output.

    python3 -m unittest discover -s graftbench/tests      (from the repo root)

No JVM is needed: the flagship check runs on a generated corpus and a CSV
written from its own truth, the DuckDB comparison on small frames.
"""
import csv
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

HEADER = ["word", "word_len", "word_truncated", "file_path", "words_count"]


class FlagshipCheck(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        gen.FLAGSHIP_FILES, cls.files = 6, gen.FLAGSHIP_FILES
        gen.generate("flagship_etl", os.path.join(cls.tmp.name, "in"), seed=7)
        gen.FLAGSHIP_FILES = cls.files
        cls.want, cls.n_files = checks.flagship_reference(
            os.path.join(cls.tmp.name, "in", "truth.json"))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def write_csv(self, rows):
        out = tempfile.mkdtemp(dir=self.tmp.name)
        with open(os.path.join(out, "part-00000.csv"), "w", encoding="utf-8", newline="") as f:
            w = csv.writer(f, delimiter=";")
            w.writerow(HEADER)
            w.writerows(rows.elements())
        return out

    def test_reference_covers_the_corpus(self):
        self.assertEqual(self.n_files, 6)
        long_words = [r for r in self.want if r[2] == "1"]
        self.assertTrue(long_words, "the corpus plants tokens longer than 255 chars")
        self.assertTrue(all(len(r[0]) == 255 for r in long_words))

    def test_matching_output_passes(self):
        got = checks.read_flagship_csv(self.write_csv(self.want))
        self.assertEqual(checks.check_flagship(got, self.want), [])

    def test_planted_wrong_expected_output_fails(self):
        got = checks.read_flagship_csv(self.write_csv(self.want))
        _, wrong = run.plant_wrong({"rows": 1}, self.want)
        self.assertNotEqual(checks.check_flagship(got, wrong), [])

    def test_wrong_word_count_fails(self):
        bad = self.want.copy()
        row = next(iter(bad))
        bad[row] -= 1
        bad[row[:4] + (str(int(row[4]) + 1),)] += 1
        got = checks.read_flagship_csv(self.write_csv(bad))
        self.assertNotEqual(checks.check_flagship(got, self.want), [])


class OracleCompare(unittest.TestCase):
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})

    def test_same_frame_passes(self):
        self.assertEqual(checks.compare_frames("q", self.want.copy(), self.want), [])

    def test_planted_wrong_expected_output_fails(self):
        _, wrong = run.plant_wrong({"q": 3}, {"q": self.want})
        self.assertNotEqual(checks.compare_frames("q", self.want.copy(), wrong["q"]), [])

    def test_value_order_and_dtype_are_checked(self):
        changed = self.want.assign(v=[0.5, 1.25, 2.5])
        self.assertNotEqual(checks.compare_frames("q", changed, self.want), [])
        flipped = self.want.iloc[::-1].reset_index(drop=True)
        self.assertNotEqual(checks.compare_frames("q", flipped, self.want), [])
        self.assertEqual(checks.compare_frames("q", flipped, self.want, ordered=False), [])
        self.assertNotEqual(checks.compare_frames("q", self.want.astype({"k": "int32"}), self.want), [])

    def test_planted_counts_are_off(self):
        expected, _ = run.plant_wrong({"rows": 10, "files": 2}, {})
        self.assertEqual(expected, {"rows": 11, "files": 3})


class Quantiles(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(run.p90([float(i) for i in range(99)]))
        self.assertEqual(run.p90([float(i) for i in range(100)]), 89.0)


if __name__ == "__main__":
    unittest.main()
