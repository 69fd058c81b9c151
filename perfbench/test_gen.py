"""Seeded inputs: the same seed gives byte-identical files, another seed
does not. Run: python3 perfbench/run.py --self-test"""

import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def files(d):
    return sorted(os.listdir(d))


class SeededInputs(unittest.TestCase):
    def assertSameBytes(self, a, b):
        self.assertEqual(files(a), files(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, files(a), shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_daily_drops_repeat_per_seed(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen.write_daily(a, 5)
            gen.write_daily(b, 5)
            gen.write_daily(c, 6)
            self.assertSameBytes(a, b)
            self.assertFalse(filecmp.cmp(os.path.join(a, "price_1.csv"),
                                         os.path.join(c, "price_1.csv"), shallow=False))

    def test_tables_repeat(self):
        with tempfile.TemporaryDirectory() as t:
            a, b = os.path.join(t, "a"), os.path.join(t, "b")
            gen.write_tables(a, 0.001)
            gen.write_tables(b, 0.001)
            self.assertSameBytes(a, b)


if __name__ == "__main__":
    unittest.main()
