"""The oracle against hand-worked cases.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
import run  # noqa: E402

# 10 x 10 square with a 2 x 2 hole in the middle
SQUARE = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
HOLE = [(4.0, 4.0), (4.0, 6.0), (6.0, 6.0), (6.0, 4.0)]
# L-shape: the 10 x 10 square without its top-right 5 x 5 quarter
ELL = [(0.0, 0.0), (10.0, 0.0), (10.0, 5.0), (5.0, 5.0), (5.0, 10.0), (0.0, 10.0)]


class PointInPolygonTest(unittest.TestCase):
    def test_point_on_edge_is_covered(self):
        self.assertTrue(oracle.covers(SQUARE, [HOLE], 5.0, 0.0))
        self.assertTrue(oracle.covers(SQUARE, [HOLE], 10.0, 7.25))

    def test_point_on_vertex_is_covered(self):
        self.assertTrue(oracle.covers(SQUARE, [HOLE], 10.0, 10.0))
        self.assertTrue(oracle.covers(ELL, [], 5.0, 5.0))  # the reflex vertex

    def test_point_in_hole_is_not_covered(self):
        self.assertFalse(oracle.covers(SQUARE, [HOLE], 5.0, 5.0))

    def test_point_on_hole_edge_is_covered(self):
        self.assertTrue(oracle.covers(SQUARE, [HOLE], 4.0, 5.0))
        self.assertTrue(oracle.covers(SQUARE, [HOLE], 6.0, 6.0))

    def test_interior_and_far_field(self):
        self.assertTrue(oracle.covers(SQUARE, [HOLE], 2.0, 2.0))
        self.assertFalse(oracle.covers(SQUARE, [HOLE], 100.0, 100.0))
        self.assertFalse(oracle.covers(SQUARE, [HOLE], -1e-9, 5.0))

    def test_concave_notch_is_outside(self):
        self.assertFalse(oracle.covers(ELL, [], 7.5, 7.5))
        self.assertTrue(oracle.covers(ELL, [], 7.5, 2.5))
        self.assertTrue(oracle.covers(ELL, [], 2.5, 7.5))


class KnnTest(unittest.TestCase):
    ids = np.array(["b", "a", "c", "d"], dtype=object)
    xs = np.array([-1.0, 1.0, 0.0, 5.0])
    ys = np.array([0.0, 0.0, 3.0, 5.0])

    def test_distance_tie_breaks_on_id(self):
        self.assertEqual(oracle.knn(self.ids, self.xs, self.ys, 0.0, 0.0, 1), [("a", 1.0)])
        self.assertEqual(oracle.knn(self.ids, self.xs, self.ys, 0.0, 0.0, 3),
                         [("a", 1.0), ("b", 1.0), ("c", 9.0)])

    def test_far_probe(self):
        self.assertEqual(oracle.knn(self.ids, self.xs, self.ys, 1000.0, 1000.0, 1)[0][0], "d")


class TileTest(unittest.TestCase):
    def test_origin_is_bottom_row(self):
        n = 1 << 20
        self.assertEqual(oracle.tile_id(0.0, 0.0), (20 << 58) | (n - 1))

    def test_hand_worked_utm_point(self):
        # 2^25 m span at zoom 20: 32 m tiles; x = 457001 -> column 14281,
        # y = 5439001 -> row 169968 from the bottom, 878607 from the top
        self.assertEqual(oracle.tile_id(457001.0, 5439001.0), (20 << 58) | (14281 << 29) | 878607)


class SplitTest(unittest.TestCase):
    def test_md5_bucket(self):
        # md5("c0") = b0fc..., 0xb0fc = 45308, 45308 % 100 = 8 -> train
        self.assertEqual(oracle.split_of("c0"), "train")


class TailTest(unittest.TestCase):
    def test_percentile_keeps_ten_samples_beyond(self):
        xs = list(range(1, 41))
        self.assertEqual(run.tail(xs), (30, 75, 40))
        self.assertEqual(run.tail(list(range(1, 101))), (90, 90, 100))

    def test_few_samples_fall_back_to_max(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))


if __name__ == "__main__":
    unittest.main()
