"""The generator is a pure function of (workload, seed).

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SMALL = {
    "join": {"points": 5_000},
    "pipeline": {"images": 2_000, "families": 20},
    "knn-ring": {"probes": 200, "targets": 2_000},
}


def digest(root):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.saved = gen.SIZES
        gen.SIZES = SMALL

    def tearDown(self):
        gen.SIZES = self.saved

    def test_same_seed_same_bytes(self):
        for w in gen.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                ma = gen.generate(w, 7, a)
                mb = gen.generate(w, 7, b)
                self.assertEqual(ma, mb, w)
                self.assertEqual(digest(a), digest(b), w)

    def test_other_seed_other_bytes(self):
        for w in gen.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(w, 7, a)
                gen.generate(w, 8, b)
                self.assertNotEqual(digest(a), digest(b), w)

    def test_stage_reuses_and_detects_corruption(self):
        with tempfile.TemporaryDirectory() as root:
            d, _, _, reused = gen.stage(root, "knn-ring", 3)
            self.assertFalse(reused)
            self.assertTrue(gen.stage(root, "knn-ring", 3)[3])
            part = os.path.join(d, "probes", "part-000.parquet")
            with open(part, "r+b") as fh:
                fh.seek(100)
                fh.write(b"\0\1\2\3")
            self.assertFalse(gen.stage(root, "knn-ring", 3)[3])

    def test_city_shapes(self):
        fps = gen.city(5)
        kinds = {f["kind"] for f in fps}
        self.assertEqual(kinds, {"rect", "ell", "court", "round"})
        self.assertGreater(len(fps), 512)
        self.assertTrue(all(len(f["holes"]) == 1 for f in fps if f["kind"] == "court"))
        self.assertTrue(all(len(f["ring"]) >= 64 for f in fps if f["kind"] == "round"))


if __name__ == "__main__":
    unittest.main()
