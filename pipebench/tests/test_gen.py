"""The generator makes its inputs from the seed alone.

    python3 -m unittest discover -s pipebench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def digest(root):
    """relative path -> sha256 of every file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in gen.SIZES:
            with self.subTest(workload=workload), tempfile.TemporaryDirectory() as tmp:
                a, b, c = (os.path.join(tmp, x) for x in "abc")
                gen.generate(workload, 7, a, 5)
                gen.generate(workload, 7, b, 5)
                gen.generate(workload, 8, c, 5)
                da, db, dc = digest(a), digest(b), digest(c)
                self.assertTrue(da)
                self.assertEqual(da, db)
                self.assertEqual(sorted(da), sorted(dc))
                self.assertTrue(all(da[f] != dc[f] for f in da),
                                "a different seed must change every generated file")

    def test_writes_only_under_the_output_directory(self):
        with tempfile.TemporaryDirectory() as tmp:
            out = os.path.join(tmp, "inputs")
            gen.generate("service_small", 1, out, 5)
            self.assertEqual(os.listdir(tmp), ["inputs"])


if __name__ == "__main__":
    unittest.main()
