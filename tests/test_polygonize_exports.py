"""Polygonize kernel (M8) unit tests + export operator checks."""

import numpy as np
import pytest

from irivermetrics_spark.kernels import polygonize


def test_single_pixel_square():
    polys = polygonize.polygons_from_mask(np.array([[1]]))
    assert len(polys) == 1
    assert polys[0]["n_pixels"] == pytest.approx(1.0)
    assert polys[0]["exterior"].shape[0] == 4


def test_rectangle_area_and_ring():
    m = np.zeros((5, 7), dtype=int)
    m[1:4, 2:6] = 1
    polys = polygonize.polygons_from_mask(m)
    assert len(polys) == 1
    assert polys[0]["n_pixels"] == pytest.approx(12.0)
    assert polys[0]["exterior"].shape[0] == 4  # collinear collapsed


def test_two_separate_pools():
    m = np.zeros((6, 6), dtype=int)
    m[0, 0] = 1
    m[4:6, 4:6] = 1
    polys = polygonize.polygons_from_mask(m)
    areas = sorted(p["n_pixels"] for p in polys)
    assert areas == [1.0, 4.0]


def test_diagonal_pixels_merge_8conn():
    m = np.zeros((4, 4), dtype=int)
    m[1, 1] = 1
    m[2, 2] = 1
    polys = polygonize.polygons_from_mask(m)
    # 8-connectivity: one polygon through the pinch corner
    assert len(polys) == 1
    assert polys[0]["n_pixels"] == pytest.approx(2.0)


def test_donut_hole():
    m = np.ones((5, 5), dtype=int)
    m[2, 2] = 0
    polys = polygonize.polygons_from_mask(m)
    assert len(polys) == 1
    assert len(polys[0]["holes"]) == 1
    assert polys[0]["n_pixels"] == pytest.approx(24.0)


def test_area_always_equals_pixel_count():
    rng = np.random.default_rng(8)
    for _ in range(10):
        m = (rng.uniform(size=(15, 18)) > 0.6).astype(int)
        polys = polygonize.polygons_from_mask(m)
        assert sum(p["n_pixels"] for p in polys) == pytest.approx(float(m.sum()))
