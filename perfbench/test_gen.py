#!/usr/bin/env python3
"""The generator is a pure function of the seed: the same seed gives
byte-identical input files, and another seed gives different ones.

    python3 perfbench/test_gen.py
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory(dir=os.path.dirname(
                os.path.abspath(__file__))) as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            gen.generate(a, 7, 6)
            gen.generate(b, 7, 6)
            gen.generate(c, 8, 6)
            names = files(a)
            self.assertIn("stream/cdc.parquet", names)
            self.assertIn("tables/documents.parquet", names)
            self.assertIn("requests.json", names)
            self.assertEqual(names, files(b))
            for n in names:
                self.assertTrue(filecmp.cmp(os.path.join(a, n),
                                            os.path.join(b, n), shallow=False),
                                f"{n} differs between two runs of one seed")
            self.assertFalse(all(filecmp.cmp(os.path.join(a, n),
                                             os.path.join(c, n), shallow=False)
                                 for n in names))


if __name__ == "__main__":
    unittest.main()
