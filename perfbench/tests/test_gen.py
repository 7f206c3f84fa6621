import hashlib
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import gen  # noqa: E402

SCRATCH = os.path.join(HERE, "..", ".work", "test-gen")


def digest(root):
    """sha256 over every file's relative path and bytes."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Determinism(unittest.TestCase):
    """The same seed gives byte-identical inputs; another seed does not."""

    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        self.saved = dict(gen.SIZES)
        # the full sizes take seconds; the code path is the same
        for k in ("copy_rows", "lineitem", "orders", "events", "probe_ops"):
            gen.SIZES[k] = min(gen.SIZES[k], 3000)

    def tearDown(self):
        gen.SIZES.clear()
        gen.SIZES.update(self.saved)
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_each_workload(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                a, b, c = (os.path.join(SCRATCH, f"{w}-{i}") for i in "abc")
                gen.generate(w, 11, a)
                gen.generate(w, 11, b)
                gen.generate(w, 12, c)
                self.assertEqual(digest(a), digest(b))
                self.assertNotEqual(digest(a), digest(c))


if __name__ == "__main__":
    unittest.main()
