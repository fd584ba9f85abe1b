"""Generator determinism: the same seed writes byte-identical inputs."""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def files(d):
    return sorted(os.listdir(d))


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w), tempfile.TemporaryDirectory() as t:
                a, b = os.path.join(t, "a"), os.path.join(t, "b")
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                self.assertEqual(files(a), files(b))
                self.assertTrue(files(a))
                for f in files(a):
                    self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                                shallow=False), f"{w}/{f} differs")

    def test_other_seed_other_inputs(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w), tempfile.TemporaryDirectory() as t:
                a, b = os.path.join(t, "a"), os.path.join(t, "b")
                gen.generate(w, 7, a)
                gen.generate(w, 8, b)
                self.assertFalse(filecmp.cmp(os.path.join(a, "documents.parquet"),
                                             os.path.join(b, "documents.parquet"),
                                             shallow=False))

    def test_mix_order_is_a_permutation_per_pass(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate("interactive_mix", 3, t)
            names = sorted(gen.mix_queries())
            with open(os.path.join(t, "order.txt")) as f:
                passes = [ln.split() for ln in f]
            self.assertEqual(len(passes), gen.MIX_ORDER_PASSES)
            for p in passes:
                self.assertEqual(sorted(p), names)
            self.assertNotEqual(passes[0], passes[1])


if __name__ == "__main__":
    unittest.main()
