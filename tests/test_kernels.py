"""Unit tests for the from-scratch numpy kernels (micro-golden arrays)."""

import numpy as np
import pytest

from irivermetrics_spark import codecs
from irivermetrics_spark.functions import cellindex, geometry
from irivermetrics_spark.kernels import blocks, ccl, crofton, edt, fill, graphpath, skeleton, water

from fixture_codecs import psnr


# ------------------------------------------------------------------- codecs

def test_raw16_roundtrip():
    rng = np.random.default_rng(0)
    arr = rng.integers(0, 20000, size=(4, 13, 17), dtype=np.uint16)
    buf = codecs.encode_image(arr, codecs.FMT_RAW16)
    out = codecs.decode_image(buf)
    assert np.array_equal(arr, out)
    assert psnr(arr, out) == float("inf")


def test_qlossy_psnr_gate():
    rng = np.random.default_rng(1)
    arr = rng.integers(0, 20000, size=(4, 50, 60), dtype=np.uint16)
    out = codecs.decode_image(codecs.encode_image(arr, codecs.FMT_QLOSSY))
    assert psnr(arr, out) >= 40.0
    # zeros survive quantization exactly (nodata contract)
    arr[3, :10, :10] = 0
    out = codecs.decode_image(codecs.encode_image(arr, codecs.FMT_QLOSSY))
    assert (out[3, :10, :10] == 0).all()


def test_phash_deterministic_and_signed():
    rng = np.random.default_rng(2)
    arr = rng.integers(0, 20000, size=(4, 30, 40), dtype=np.uint16)
    h1 = codecs.phash64(arr)
    h2 = codecs.phash64(arr)
    assert h1 == h2
    assert -(2**63) <= h1 < 2**63


# ---------------------------------------------------------------- cell index

def test_hex_roundtrip_centers():
    rng = np.random.default_rng(3)
    x = rng.uniform(-1e5, 1e5, 500)
    y = rng.uniform(-1e5, 1e5, 500)
    for res in (7, 9, 11):
        cells = cellindex.hex_cell(x, y, res)
        cx, cy = cellindex.hex_center(cells)
        # every point is within one circumradius (= edge) of its center
        assert (np.hypot(x - cx, y - cy) <= cellindex.hex_edge(res) + 1e-6).all()
        # centers map back to the same cell
        assert np.array_equal(cellindex.hex_cell(cx, cy, res), cells)


def test_hex_kring_counts_and_distance():
    cell = cellindex.hex_cell(np.array([1234.5]), np.array([-987.0]), 9)
    for k in (1, 2, 3):
        ring = cellindex.hex_kring(cell, k)
        assert ring.shape == (1, 3 * k * (k + 1) + 1)
        assert len(np.unique(ring)) == ring.shape[1]
        # axial hex distance of every ring cell from the center
        _, _, q, r = cellindex._unpack(ring[0])
        _, _, q0, r0 = cellindex._unpack(cell)
        dq, dr = q - q0, r - r0
        assert ((np.abs(dq) + np.abs(dr) + np.abs(dq + dr)) // 2).max() == k


# ------------------------------------------------------------------ geometry

SQUARE_X = np.array([0.0, 10.0, 10.0, 0.0])
SQUARE_Y = np.array([0.0, 0.0, 10.0, 10.0])


def test_pip_square():
    px = np.array([5.0, -1.0, 10.5, 9.99, 0.01])
    py = np.array([5.0, 5.0, 5.0, 9.99, 0.01])
    got = geometry.point_in_polygon(px, py, SQUARE_X, SQUARE_Y)
    assert got.tolist() == [True, False, False, True, True]


def test_pip_concave():
    # L-shape: (0,0)-(4,0)-(4,2)-(2,2)-(2,4)-(0,4)
    rx = np.array([0, 4, 4, 2, 2, 0], dtype=float)
    ry = np.array([0, 0, 2, 2, 4, 4], dtype=float)
    px = np.array([1.0, 3.0, 3.0, 1.0])
    py = np.array([1.0, 1.0, 3.0, 3.0])
    assert geometry.point_in_polygon(px, py, rx, ry).tolist() == [True, True, False, True]


def test_segment_square_touch():
    # segment crossing a square vs missing it
    cx = np.array([5.0, 50.0])
    cy = np.array([5.0, 50.0])
    hit = geometry.segments_touch_squares(cx, cy, 1.0, np.array([0.0, 10.0]), np.array([0.0, 10.0]))
    assert hit.tolist() == [True, False]


def test_rasterize_center_vs_all_touched():
    # diamond polygon on a 10x10 unit grid
    rx = np.array([5.0, 9.5, 5.0, 0.5])
    ry = np.array([-0.5, -5.0, -9.5, -5.0])
    center = geometry.rasterize_polygon(rx, ry, 0.0, 0.0, 1.0, 10, 10, all_touched=False)
    touched = geometry.rasterize_polygon(rx, ry, 0.0, 0.0, 1.0, 10, 10, all_touched=True)
    assert center.sum() > 0
    # all_touched is a superset and strictly bigger (boundary pixels)
    assert (touched >= center).all() and touched.sum() > center.sum()


def test_shoelace():
    assert geometry.polygon_area_m2(SQUARE_X, SQUARE_Y) == pytest.approx(100.0)


def test_haversine():
    # quarter meridian ~ 10,007.5 km
    d = geometry.haversine_m(0.0, 0.0, 90.0, 0.0)
    assert d == pytest.approx(np.pi / 2 * geometry.EARTH_R_M, rel=1e-9)


def test_polygon_cover_hex_covers_all_inside_points():
    rng = np.random.default_rng(5)
    rx = np.array([0.0, 900.0, 1100.0, 150.0])
    ry = np.array([0.0, -100.0, 700.0, 800.0])
    cells, is_full = geometry.polygon_cover_hex(rx, ry, 9)
    # random interior points' cells must be in the cover
    px = rng.uniform(-50, 1150, 4000)
    py = rng.uniform(-150, 850, 4000)
    inside = geometry.point_in_polygon(px, py, rx, ry)
    pc = cellindex.hex_cell(px[inside], py[inside], 9)
    assert np.isin(pc, cells).all()
    # full cells must contain only inside points
    full_set = set(cells[is_full].tolist())
    if full_set:
        in_full = np.isin(cellindex.hex_cell(px, py, 9), list(full_set))
        assert inside[in_full].all()


# ----------------------------------------------------------------------- CCL

def test_ccl_labels_and_scan_order():
    img = np.array(
        [
            [1, 0, 0, 1],
            [0, 1, 0, 1],
            [0, 0, 0, 0],
            [1, 1, 0, 0],
        ]
    )
    labels, n = ccl.label8(img)
    assert n == 3
    # 8-connectivity merges the diagonal; scan order: (0,0)=1, (0,3)=2, (3,0)=3
    assert labels[0, 0] == 1 and labels[1, 1] == 1
    assert labels[0, 3] == 2 and labels[1, 3] == 2
    assert labels[3, 0] == 3 and labels[3, 1] == 3


def test_ccl_remove_small():
    img = np.array([[1, 0, 0], [0, 0, 0], [0, 1, 1]])
    labels, _ = ccl.label8(img)
    out = ccl.remove_small(labels, 2)
    assert out[0, 0] == 0  # 1-px pool removed
    assert out[2, 1] == 2 and out[2, 2] == 2  # keeps ORIGINAL number


# ------------------------------------------------------------------ skeleton

def test_skeleton_thin_lines_preserved():
    img = np.zeros((9, 9), dtype=np.uint8)
    img[4, 1:8] = 1  # 1-px line is its own skeleton
    out = skeleton.skeletonize(img)
    assert np.array_equal(out, img)


def test_skeleton_blob_thins_and_stays_connected():
    img = np.zeros((11, 15), dtype=np.uint8)
    img[3:8, 2:13] = 1
    out = skeleton.skeletonize(img)
    assert out.sum() < img.sum()
    assert out.sum() >= 5
    assert ccl.label8(out)[1] == 1  # still one component


# ----------------------------------------------------------------------- EDT

def test_edt_matches_manual():
    img = np.array(
        [
            [0, 0, 0, 0, 0],
            [0, 1, 1, 1, 0],
            [0, 1, 1, 1, 0],
            [0, 1, 1, 1, 0],
            [0, 0, 0, 0, 0],
        ]
    )
    d = edt.edt(img)
    assert d[0, 0] == 0
    assert d[1, 1] == pytest.approx(1.0)
    assert d[2, 2] == pytest.approx(2.0)  # nearest zero is 2 straight steps


def test_edt_random_vs_bruteforce():
    rng = np.random.default_rng(6)
    img = (rng.uniform(size=(12, 14)) > 0.4).astype(np.uint8)
    img[0, 0] = 0
    d = edt.edt(img)
    ys, xs = np.nonzero(img == 0)
    for y in range(img.shape[0]):
        for x in range(img.shape[1]):
            expect = 0.0 if img[y, x] == 0 else np.sqrt(((ys - y) ** 2 + (xs - x) ** 2).min())
            assert d[y, x] == pytest.approx(expect, abs=1e-5)


# ------------------------------------------------------------------- crofton

def test_crofton_single_pixel():
    val = crofton.perimeter_crofton(np.array([[1]]))
    expect = np.pi / 4 * (1 + 1 / np.sqrt(2)) + np.pi / (4 * np.sqrt(2)) + np.pi / 4 * (1 + 1 / np.sqrt(2)) + np.pi / (4 * np.sqrt(2))
    # config codes for an isolated pixel: 1, 4, 2, 8 -> coefs[1]+coefs[4]+coefs[2]+coefs[8]
    expect = crofton._COEFS4[1] + crofton._COEFS4[4] + crofton._COEFS4[2] + crofton._COEFS4[8]
    assert val == pytest.approx(expect)


def test_crofton_square_grows_linearly():
    p2 = crofton.perimeter_crofton(np.pad(np.ones((2, 2)), 2))
    p4 = crofton.perimeter_crofton(np.pad(np.ones((4, 4)), 2))
    p6 = crofton.perimeter_crofton(np.pad(np.ones((6, 6)), 2))
    assert (p4 - p2) == pytest.approx(p6 - p4, rel=1e-9)  # linear growth in side


# ----------------------------------------------------------------- graphpath

def test_longest_path_straight_line():
    ys = np.array([2, 2, 2, 2, 2])
    xs = np.array([1, 2, 3, 4, 5])
    length, path = graphpath.longest_path(ys, xs)
    assert length == pytest.approx(4 * 30.0)
    assert path.shape == (5, 2)


def test_longest_path_single_pixel_degenerate():
    length, path = graphpath.longest_path(np.array([3]), np.array([3]))
    assert length == 30.0  # hard-coded pixel_size fallback
    assert path.shape == (1, 2)


def test_longest_path_y_shape_picks_diameter():
    # Y: stem (4..6,3) + arms to (1,1) and (1,5) -> diameter arm-to-arm
    ys = np.array([1, 2, 3, 1, 2, 3, 4, 5, 6])
    xs = np.array([1, 2, 3, 5, 4, 3, 3, 3, 3])
    length, path = graphpath.longest_path(ys, xs)
    # arm(2 diag) + stem... diameter = arm -> arm or arm -> stem end
    assert path.shape[0] >= 6


# ---------------------------------------------------------------- water rule

def test_water_mask_rule():
    arr = np.zeros((4, 2, 3), dtype=np.uint16)
    arr[1] = 4000  # green
    arr[3] = 1000  # nir -> NDWI > 0 water
    arr[3, 0, 0] = 8000  # dry pixel
    arr[3, 1, 2] = 0  # nodata
    m = water.water_mask(arr)
    assert m[0, 0] == 0 and m[1, 2] == -1
    assert m[0, 1] == 1 and m[1, 1] == 1


# ---------------------------------------------------------------------- fill

def test_fill_sequential_cascade():
    # one pixel, series [1, 2, 2, 0, 0]: t1 fills from t2? t2 is 2 -> from
    # t3=0? offsets [+1,+2,-1,-2]: t1: +1 -> 2 no; +2 -> t3=0 fill 0.
    # t2: +1 -> t3=0 fill 0.
    v = np.array([[1], [2], [2], [0], [0]], dtype=np.int8)
    out = fill.fill_series(v)
    assert out.ravel().tolist() == [1, 0, 0, 0, 0]


def test_fill_cascade_uses_already_filled():
    # series [1, 2, 2, 2, 2]: t1 +1/+2 are 2; -1 -> t0=1 fill 1.
    # t2: -1 -> t1 (now 1) -> 1 cascades forward.
    v = np.array([[1], [2], [2], [2], [2]], dtype=np.int8)
    out = fill.fill_series(v)
    assert out.ravel().tolist() == [1, 1, 1, 1, 1]


def test_fill_reflect_edges():
    # t0 == 2: padded prelude is [v1, v0]; t0 fills via +1 (v1) first
    v = np.array([[2], [1], [0]], dtype=np.int8)
    out = fill.fill_series(v)
    assert out.ravel().tolist() == [1, 1, 0]


def test_fill_unfillable_stays_2():
    v = np.full((4, 1), 2, dtype=np.int8)
    out = fill.fill_series(v)
    assert (out == 2).all()
    assert fill.binarize(out).sum() == 0


# -------------------------------------------------------------------- blocks

def test_summarize_clip_zero_pools():
    rows = blocks.summarize_clip(np.zeros((5, 5), dtype=np.int8), 2, 10.0)
    assert len(rows) == 1 and rows[0]["label"] == 0 and rows[0]["area_km2"] == 0.0


def test_summarize_clip_two_pools():
    img = np.zeros((8, 12), dtype=np.int8)
    img[2:4, 1:5] = 1     # pool 1: 8 px
    img[6, 8:11] = 1      # pool 2: 3 px
    rows = blocks.summarize_clip(img, 2, 10.0)
    assert len(rows) == 2
    assert [r["label"] for r in rows] == [1, 2]
    assert rows[0]["area_km2"] == pytest.approx(8 * 100 / 1e6)
    assert rows[1]["area_km2"] == pytest.approx(3 * 100 / 1e6)
    # lengths use hard-coded 30 m pixels
    assert rows[1]["length_km"] == pytest.approx(2 * 30.0 / 1e3)


def test_summarize_clip_min_pool_size_strict():
    img = np.zeros((4, 4), dtype=np.int8)
    img[1, 1] = 1  # single pixel pool dies with min_pool_size=2
    rows = blocks.summarize_clip(img, 2, 10.0)
    assert rows[0]["label"] == 0
