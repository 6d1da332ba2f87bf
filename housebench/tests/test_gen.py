"""Tests of the housebench input generators.

Run from the repository root:

    python3 -m unittest discover -s housebench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from run import tree_digest  # noqa: E402


class ListingArchiveTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.a = os.path.join(cls.tmp.name, "a")
        cls.manifest = gen.listing_archive(cls.a, 7)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_is_byte_identical(self):
        b = os.path.join(self.tmp.name, "b")
        gen.listing_archive(b, 7)
        self.assertEqual(tree_digest(self.a), tree_digest(b))
        unwritten = gen.listing_archive(None, 7, write=False)
        self.assertEqual(unwritten["digest"], self.manifest["digest"])

    def test_other_seed_differs(self):
        c = os.path.join(self.tmp.name, "c")
        gen.listing_archive(c, 8)
        self.assertNotEqual(tree_digest(self.a), tree_digest(c))

    def test_surviving_rows_are_the_baseline_corpus(self):
        m = self.manifest
        self.assertEqual(m["kept_rows"], 46582)
        self.assertEqual(len(m["days"]), 11)
        self.assertEqual(sum(d["kept_rows"] for d in m["days"]), 46582)
        with open(os.path.join(self.a, "manifest.json")) as f:
            self.assertEqual(json.load(f)["kept_rows"], 46582)

    def test_every_quirk_is_present(self):
        for quirk, n in self.manifest["quirks"].items():
            self.assertGreater(n, 0, quirk)
        day = os.path.join(self.a, self.manifest["dates"][0])
        text = "".join(open(os.path.join(day, f)).read() for f in sorted(os.listdir(day)))
        self.assertIn(">Studio</td>", text)                      # studio bed -> 0
        self.assertIn("FloorSpaceCell-sc-5\"></td>", text)       # empty sqft, dropped
        self.assertRegex(text, r">[\d,]+-[\d,]+ sqft</td>")      # sqft range -> mean
        self.assertIn("FloorPlanSMCell-sc-8\">Contact</td>\n</tr>", text)  # Contact price
        self.assertRegex(text, r">\$[\d,]+-\$[\d,]+</td>")       # price range, dropped
        self.assertRegex(text, r">\$[\d,]+\+</td>")              # '+' price
        self.assertRegex(text, r"Woburn, MA 0180[13]<")          # leading-zero zip
        self.assertIn("unavailable</h1>", text)                  # page with no rows


class CorpusAndStarTest(unittest.TestCase):

    def test_corpus_is_seeded_and_has_its_near_dup_share(self):
        with tempfile.TemporaryDirectory() as t:
            f1 = gen.zipf_corpus(os.path.join(t, "a"), 3, 2000)
            gen.zipf_corpus(os.path.join(t, "b"), 3, 2000)
            self.assertEqual(tree_digest(os.path.join(t, "a")), tree_digest(os.path.join(t, "b")))
            self.assertAlmostEqual(f1["near_dup_share"], 0.10, delta=0.02)
            self.assertGreater(f1["exact_dup_share"], 0.0)

    def test_star_is_seeded(self):
        with tempfile.TemporaryDirectory() as t:
            rows = gen.star_schema(os.path.join(t, "a"), 5, 0.001)
            gen.star_schema(os.path.join(t, "b"), 5, 0.001)
            self.assertEqual(tree_digest(os.path.join(t, "a")), tree_digest(os.path.join(t, "b")))
            self.assertEqual(rows["lineitem"], 6000)


if __name__ == "__main__":
    unittest.main()
