"""Bit-identity of the whole-array CCL and EDT kernels against the
per-pixel loop implementations they replaced (tests/loop_kernels.py):
same scan-order labels and count, same float32 distances bit for bit."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from loop_kernels import edt_loop, label8_loop

from irivermetrics_spark.kernels import ccl, edt


def _random_clip(draw, h, w):
    p = draw(st.sampled_from([0.1, 0.4, 0.6, 0.9]))
    seed = draw(st.integers(0, 2**32 - 1))
    return (np.random.default_rng(seed).uniform(size=(h, w)) < p).astype(np.int8)


@st.composite
def clips(draw):
    kind = draw(st.sampled_from(["random", "row", "column", "water", "dry", "diagonal"]))
    n = draw(st.integers(1, 40))
    if kind == "row":
        return _random_clip(draw, 1, n)
    if kind == "column":
        return _random_clip(draw, n, 1)
    h, w = draw(st.integers(1, 30)), draw(st.integers(1, 30))
    if kind == "water":
        return np.ones((h, w), dtype=np.int8)
    if kind == "dry":
        return np.zeros((h, w), dtype=np.int8)
    if kind == "diagonal":
        # diagonal chains: 8-connected only through corners, both slopes
        img = np.zeros((h, w), dtype=np.int8)
        k = np.arange(min(h, w))
        img[k, k] = 1
        img[k[::2], (w - 1 - k)[::2]] = 1
        return img
    return _random_clip(draw, h, w)


def _assert_same(img):
    labels, n = ccl.label8(img)
    want_labels, want_n = label8_loop(img)
    assert n == want_n and isinstance(n, int)
    assert labels.dtype == want_labels.dtype == np.int32
    np.testing.assert_array_equal(labels, want_labels)
    dist, want = edt.edt(img), edt_loop(img)
    assert dist.dtype == want.dtype == np.float32
    np.testing.assert_array_equal(dist.view(np.uint32), want.view(np.uint32))
    # the point-wise evaluation returns the same bits as the full transform
    ys, xs = np.nonzero(np.ones_like(img))
    np.testing.assert_array_equal(edt.edt(img, at=(ys, xs)).view(np.uint32),
                                  want[ys, xs].view(np.uint32))


@settings(max_examples=300, deadline=None)
@given(clips())
def test_kernels_bit_identical_to_loop_oracles(img):
    _assert_same(img)


def test_kernels_bit_identical_on_a_large_clip():
    rng = np.random.default_rng(512)
    img = (rng.uniform(size=(520, 512)) < 0.55).astype(np.int8)
    img[100:300, 50:400] = 1  # one wide pool: long distances, many runs merged
    _assert_same(img)


def test_edt_of_all_water_keeps_the_sentinel_distance():
    np.testing.assert_array_equal(edt.edt(np.ones((7, 3))), np.full((7, 3), 1e9, np.float32))


def test_ccl_resolves_a_comb_in_a_bounded_number_of_passes(monkeypatch):
    # 1-px teeth on every other column above a full-width bar: the bar
    # (the last run) touches all 201 teeth, so it must hook under the
    # smallest of them at once, not one tooth per round
    img = np.zeros((2, 401), dtype=np.int8)
    img[0, ::2] = 1
    img[1] = 1
    passes = []
    array_equal = np.array_equal
    # every round of _run_components ends in pointer-jumping passes,
    # each checked with one np.array_equal call
    monkeypatch.setattr(np, "array_equal", lambda *a: passes.append(1) or array_equal(*a))
    for clip in (img, img[::-1].copy()):  # teeth up, then teeth down
        passes.clear()
        labels, n = ccl.label8(clip)
        assert n == 1 and (labels == clip).all()
        assert len(passes) <= 8
    monkeypatch.undo()
    _assert_same(img)
    _assert_same(img[::-1].copy())
