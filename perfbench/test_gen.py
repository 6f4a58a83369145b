"""The seeded generator is a pure function of the seed.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def _files(seed):
    with tempfile.TemporaryDirectory() as d:
        gen.write(seed, d)
        out = {}
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as f:
                out[name] = f.read()
        return out


class SeededInputs(unittest.TestCase):

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(_files(7), _files(7))

    def test_different_seed_gives_different_inputs(self):
        a, b = _files(7), _files(8)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertNotEqual(a[name], b[name], name)

    def test_every_seed_serves_the_same_shape_sequence(self):
        def shapes(seed):
            return [q["shape"] for q in gen.generate(seed)["questions.jsonl"]]
        self.assertEqual(shapes(1), shapes(2))

    def test_popular_questions_repeat(self):
        qids = [q["qid"] for q in gen.generate(4)["questions.jsonl"]]
        self.assertLess(len(set(qids[:50])), 40)


if __name__ == "__main__":
    unittest.main()
