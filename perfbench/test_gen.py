"""Determinism of the benchmark's corpus generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import tempfile
import unittest

import gen


def digest(d, names):
    h = hashlib.sha256()
    for name in names:
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class CorpusTest(unittest.TestCase):
    def corpus(self, seed):
        with tempfile.TemporaryDirectory() as d:
            returned = gen.corpus(d, seed, 0.2, 0.2)
            self.assertEqual(returned, digest(d, ["text.txt", "links.txt"]))
            return returned

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.corpus(7), self.corpus(7))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(self.corpus(7), self.corpus(8))


if __name__ == "__main__":
    unittest.main()
