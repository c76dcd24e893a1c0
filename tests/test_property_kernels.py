"""Property-based kernel tests (hypothesis): randomized micro-arrays
checked against independent brute-force implementations."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from irivermetrics_spark.functions import cellindex, geometry
from irivermetrics_spark.kernels import ccl, edt, fill

arrays = st.integers(2, 12).flatmap(
    lambda h: st.integers(2, 12).flatmap(
        lambda w: st.lists(st.integers(0, 1), min_size=h * w, max_size=h * w).map(
            lambda v: np.asarray(v, dtype=np.int8).reshape(h, w)
        )
    )
)


def _flood_components(img: np.ndarray) -> list[frozenset]:
    """Independent 8-conn component finder (BFS flood fill)."""
    h, w = img.shape
    seen = np.zeros_like(img, dtype=bool)
    comps = []
    for y in range(h):
        for x in range(w):
            if img[y, x] and not seen[y, x]:
                stack = [(y, x)]
                seen[y, x] = True
                comp = set()
                while stack:
                    cy, cx = stack.pop()
                    comp.add((cy, cx))
                    for dy in (-1, 0, 1):
                        for dx in (-1, 0, 1):
                            ny, nx = cy + dy, cx + dx
                            if 0 <= ny < h and 0 <= nx < w and img[ny, nx] and not seen[ny, nx]:
                                seen[ny, nx] = True
                                stack.append((ny, nx))
                comps.append(frozenset(comp))
    return comps


@settings(max_examples=60, deadline=None)
@given(arrays)
def test_ccl_partition_matches_floodfill(img):
    labels, n = ccl.label8(img)
    comps = _flood_components(img)
    assert n == len(comps)
    got = {}
    for (y, x) in {p for c in comps for p in c}:
        got.setdefault(labels[y, x], set()).add((y, x))
    assert sorted(map(frozenset, got.values()), key=sorted) == sorted(comps, key=sorted)
    # scan-order labeling: label of first pixel in row-major order is 1, etc.
    firsts = sorted((min(c), i + 1) for i, c in enumerate(sorted(comps, key=min)))
    for (y, x), expect in firsts:
        assert labels[y, x] == expect


@settings(max_examples=40, deadline=None)
@given(arrays)
def test_edt_matches_bruteforce(img):
    d = edt.edt(img)
    ys, xs = np.nonzero(img == 0)
    for y in range(img.shape[0]):
        for x in range(img.shape[1]):
            if img[y, x] == 0:
                assert d[y, x] == 0.0
            elif ys.size:
                expect = np.sqrt(((ys - y) ** 2 + (xs - x) ** 2).min())
                assert abs(d[y, x] - expect) < 1e-4


series = st.integers(2, 10).flatmap(
    lambda n: st.lists(st.integers(0, 2), min_size=n, max_size=n)
)


@settings(max_examples=100, deadline=None)
@given(series)
def test_fill_matches_reference_simulation(vals):
    """Direct simulation of the reference's padded sequential fill
    (independent re-derivation of src/utils/calc_metrics.py:522-584)."""
    v = np.asarray(vals, dtype=np.int8).reshape(-1, 1)
    got = fill.fill_series(v).ravel().tolist()

    seq = list(vals)
    pad = [seq[1], seq[0]] + seq + [seq[-1], seq[-2]]
    m = len(pad)
    for num in range(1, m - 2):
        if pad[num] == 2:
            for off in (1, 2, -1, -2):
                adj = num + off
                if 0 <= adj < m and pad[num] == 2 and pad[adj] != 2:
                    pad[num] = pad[adj]
    assert got == pad[2:2 + len(seq)]


coords = st.lists(
    st.tuples(st.floats(-1e4, 1e4, allow_nan=False), st.floats(-1e4, 1e4, allow_nan=False)),
    min_size=1, max_size=50,
)


@settings(max_examples=50, deadline=None)
@given(coords, st.sampled_from([7, 8, 9, 10, 11]))
def test_hex_cells_partition_plane(pts, res):
    x = np.asarray([p[0] for p in pts])
    y = np.asarray([p[1] for p in pts])
    cells = cellindex.hex_cell(x, y, res)
    cx, cy = cellindex.hex_center(cells)
    # nearest-center property: own center is at least as close as any
    # neighboring cell center
    ring = cellindex.hex_kring(cells, 1)
    for i in range(len(pts)):
        d0 = np.hypot(x[i] - cx[i], y[i] - cy[i])
        nx, ny = cellindex.hex_center(ring[i])
        dn = np.hypot(x[i] - nx, y[i] - ny)
        assert d0 <= dn.min() + 1e-6


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(st.floats(0, 100, allow_nan=False), st.floats(0, 100, allow_nan=False)),
                min_size=3, max_size=8))
def test_pip_consistent_with_winding(verts):
    rx = np.asarray([v[0] for v in verts])
    ry = np.asarray([v[1] for v in verts])
    # a point far outside is never inside
    assert not geometry.point_in_polygon(np.array([1e6]), np.array([1e6]), rx, ry)[0]
    # centroid membership agrees with matplotlib-free reference: the
    # crossing test is its own spec; just require determinism
    cx, cy = rx.mean(), ry.mean()
    a = geometry.point_in_polygon(np.array([cx]), np.array([cy]), rx, ry)[0]
    b = geometry.point_in_polygon(np.array([cx]), np.array([cy]), rx, ry)[0]
    assert a == b


@given(st.binary(max_size=4000))
@settings(max_examples=120, deadline=None)
def test_lzw_roundtrip_property(data):
    from irivermetrics_spark.kernels import lzw

    assert lzw.decompress(lzw.compress(data)) == data


def _lzw_end_state(data: bytes) -> tuple[int, int]:
    """(table size when the input ends, table resets) of a TIFF-LZW
    encode of ``data``: a replay of the string table alone."""
    table, size, resets, w = set(), 258, 0, b""
    for b in data:
        wc = w + bytes([b])
        if len(wc) == 1 or wc in table:
            w = wc
            continue
        table.add(wc)
        size += 1
        if size == 4094:
            table.clear()
            size, resets = 258, resets + 1
        w = bytes([b])
    return size, resets


# high-entropy bytes add about one table entry per input byte: these
# lengths of the seed-0 bytes below end a stream exactly on each early
# change (510/1022/2046 entries), and the last one just past the
# 4094-entry reset
_LZW_EDGES = {510: 254, 1022: 769, 2046: 1811}
_LZW_RESET_AT = 3950


@st.composite
def _lzw_inputs(draw):
    centers = sorted(_LZW_EDGES.values()) + [_LZW_RESET_AT]
    n = draw(st.one_of(st.integers(0, 64), st.sampled_from(centers).flatmap(
        lambda c: st.integers(c - 48, c + 48))))
    alphabet = draw(st.sampled_from([2, 16, 256]))
    seed = draw(st.integers(0, 2**32 - 1))
    return np.random.default_rng(seed).integers(0, alphabet, n, dtype=np.uint8).tobytes()


@given(_lzw_inputs())
@settings(max_examples=150, deadline=None)
def test_lzw_compress_matches_bytes_keyed_oracle(data):
    from lzw_oracle import compress_bytes_keyed

    from irivermetrics_spark.kernels import lzw

    assert lzw.compress(data) == compress_bytes_keyed(data)


def test_lzw_compress_matches_oracle_at_every_edge():
    """The empty input, streams that end exactly on each early change
    (the final-code widen before EOI) and one that crosses the table
    reset."""
    from lzw_oracle import compress_bytes_keyed

    from irivermetrics_spark.kernels import lzw

    assert lzw.compress(b"") == compress_bytes_keyed(b"")
    data = np.random.default_rng(0).integers(0, 256, _LZW_RESET_AT, dtype=np.uint8).tobytes()
    for size, n in _LZW_EDGES.items():
        assert _lzw_end_state(data[:n]) == (size, 0)
        assert lzw.compress(data[:n]) == compress_bytes_keyed(data[:n]), n
    assert _lzw_end_state(data)[1] == 1
    assert lzw.compress(data) == compress_bytes_keyed(data)


@given(
    st.integers(1, 6), st.integers(1, 9), st.integers(1, 9),
    st.sampled_from([1, 2]), st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_netcdf_wmask_roundtrip_property(t, h, w, version, record_time):
    import numpy as np

    from irivermetrics_spark.kernels import netcdf

    if h == 1 and w == 1:
        return  # 1x1 grid: pixel size genuinely unrecoverable
    rng = np.random.default_rng(t * 100 + h * 10 + w)
    cube = rng.integers(-1, 2, (t, h, w)).astype(np.int8)
    dates = [str(np.datetime64("2019-06-01") + np.timedelta64(3 * i, "D"))
             for i in range(t)]
    grid = dict(gx0=1000.0, gy0=5000.0, ps=30.0)
    back, dback, gback = netcdf.read_wmask(
        netcdf.write_wmask(cube, dates, grid, version=version,
                           record_time=record_time))
    assert np.array_equal(back, cube)
    assert dback == dates
    assert gback["w"] == w and gback["h"] == h
    assert np.isclose(gback["gx0"], 1000.0) and np.isclose(gback["gy0"], 5000.0)


# ---- geotiff + shapefile codec round-trips (r5: the same hypothesis
# treatment lzw/netcdf/jpeg received in r4) ----

_GT_DTYPES = ["uint8", "uint16", "int16", "uint32", "int32", "float32", "float64"]


@st.composite
def _geotiff_cases(draw):
    from hypothesis.extra import numpy as hnp

    dt = np.dtype(draw(st.sampled_from(_GT_DTYPES)))
    nb = draw(st.integers(1, 3))
    h = draw(st.integers(1, 11))
    w = draw(st.integers(1, 13))
    if dt.kind == "f":
        elems = st.floats(-1e6, 1e6, allow_nan=False, width=32)
    else:
        info = np.iinfo(dt)
        elems = st.integers(int(info.min), int(info.max))
    arr = draw(hnp.arrays(dtype=dt, shape=(nb, h, w), elements=elems))
    compress = draw(st.sampled_from([None, "lzw"]))
    nodata = draw(st.one_of(st.none(), st.just(-1.0), st.just(0.0)))
    gx0 = draw(st.floats(-1e7, 1e7, allow_nan=False))
    gy0 = draw(st.floats(-1e7, 1e7, allow_nan=False))
    ps = draw(st.floats(0.01, 1e4, allow_nan=False))
    return arr, dict(gx0=gx0, gy0=gy0, ps=ps), nodata, compress


@settings(max_examples=60, deadline=None)
@given(_geotiff_cases())
def test_geotiff_roundtrip_property(case):
    from irivermetrics_spark.kernels import geotiff

    arr, grid, nodata, compress = case
    buf = geotiff.write_geotiff(arr, grid, nodata=nodata, compress=compress)
    back, g, nd = geotiff.read_geotiff(buf)
    assert back.dtype == arr.dtype
    np.testing.assert_array_equal(back, arr)
    assert g["gx0"] == grid["gx0"] and g["gy0"] == grid["gy0"] and g["ps"] == grid["ps"]
    if nodata is None:
        assert nd is None
    else:
        assert nd == nodata


_coord = st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False)


@st.composite
def _ring_sets(draw):
    n_shapes = draw(st.integers(1, 4))
    shapes = []
    for _ in range(n_shapes):
        n_parts = draw(st.integers(1, 3))
        parts = []
        for _ in range(n_parts):
            n = draw(st.integers(3, 8))
            xs = np.asarray(draw(st.lists(_coord, min_size=n, max_size=n)))
            ys = np.asarray(draw(st.lists(_coord, min_size=n, max_size=n)))
            parts.append((xs, ys))
        shapes.append(parts)
    return shapes


def _canon_ring(px, py):
    """Independent restatement of the writer's polygon canonicalization:
    close the ring, then orient clockwise by the shoelace sign."""
    px, py = np.asarray(px, dtype=np.float64), np.asarray(py, dtype=np.float64)
    if px[0] != px[-1] or py[0] != py[-1]:
        px, py = np.append(px, px[0]), np.append(py, py[0])
    area2 = np.sum(px[:-1] * py[1:] - px[1:] * py[:-1])  # CCW-positive shoelace
    if area2 > 0:  # counter-clockwise -> reverse
        px, py = px[::-1], py[::-1]
    return px, py


@settings(max_examples=40, deadline=None)
@given(_ring_sets())
def test_shapefile_polygon_roundtrip_property(shapes):
    from irivermetrics_spark.kernels import shapefile as shp

    fields = [("name", "C", 8, 0), ("val", "N", 12, 3)]
    records = [(f"s{i}", i + 0.125) for i in range(len(shapes))]
    files = shp.write_shapefile(shp.POLYGON, shapes, fields, records)
    st_, back, recs = shp.read_shapefile(files["shp"], files["dbf"])
    assert st_ == shp.POLYGON and len(back) == len(shapes)
    for orig, got in zip(shapes, back):
        assert len(got) == len(orig)
        for (ox, oy), (gx, gy) in zip(orig, got):
            ex, ey = _canon_ring(ox, oy)
            if np.array_equal(gx, ex) and np.array_equal(gy, ey):
                continue
            # the writer's edge-sum and this shoelace agree except at FP
            # sign ties, which only happen on (near-)zero-area rings —
            # there either orientation is a valid canonical form
            np.testing.assert_array_equal(gx, ex[::-1])
            np.testing.assert_array_equal(gy, ey[::-1])
            area2 = abs(np.sum(ex[:-1] * ey[1:] - ex[1:] * ey[:-1]))
            maxc = max(1.0, np.abs(ex).max(), np.abs(ey).max())
            assert area2 <= 1e-6 * maxc * maxc
    for (name, val), rec in zip(records, recs):
        assert rec[0] == name
        assert float(rec[1]) == val  # .3f decimals preserve the .125


@settings(max_examples=40, deadline=None)
@given(_ring_sets())
def test_shapefile_polyline_roundtrip_property(shapes):
    from irivermetrics_spark.kernels import shapefile as shp

    files = shp.write_shapefile(shp.POLYLINE, shapes, [("id", "N", 8, 0)],
                                [(i,) for i in range(len(shapes))])
    st_, back, recs = shp.read_shapefile(files["shp"], files["dbf"])
    assert st_ == shp.POLYLINE
    for orig, got in zip(shapes, back):
        for (ox, oy), (gx, gy) in zip(orig, got):
            np.testing.assert_array_equal(gx, np.asarray(ox, dtype=np.float64))
            np.testing.assert_array_equal(gy, np.asarray(oy, dtype=np.float64))
    assert [int(r[0]) for r in recs] == list(range(len(shapes)))


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(_coord, _coord), min_size=1, max_size=10))
def test_shapefile_point_roundtrip_property(pts):
    from irivermetrics_spark.kernels import shapefile as shp

    files = shp.write_shapefile(shp.POINT, pts, [("id", "N", 8, 0)],
                                [(i,) for i in range(len(pts))])
    st_, back, _ = shp.read_shapefile(files["shp"], files["dbf"])
    assert st_ == shp.POINT
    for (ox, oy), (gx, gy) in zip(pts, back):
        assert gx == ox and gy == oy


# ---- VP8L webp codec (r5-VERDICT ask #7: the r5 fuzz pass found two
# real bugs; property tests sweep the encoder option matrix —
# transforms x palette x cache x meta — against structured content
# classes so every decoder path sees adversarial inputs) ----


@st.composite
def _webp_cases(draw):
    from hypothesis.extra import numpy as hnp

    h = draw(st.integers(1, 16))
    w = draw(st.integers(1, 16))
    kind = draw(st.sampled_from(["noise", "lowcard", "constant", "gradient"]))
    if kind == "noise":
        planes = draw(hnp.arrays(dtype=np.uint8, shape=(4, h, w),
                                 elements=st.integers(0, 255)))
    elif kind == "lowcard":
        vals = draw(st.lists(st.integers(0, 255), min_size=1, max_size=4, unique=True))
        planes = draw(hnp.arrays(dtype=np.uint8, shape=(4, h, w),
                                 elements=st.sampled_from(vals)))
    elif kind == "constant":
        planes = np.full((4, h, w), draw(st.integers(0, 255)), dtype=np.uint8)
    else:
        gx = draw(st.integers(1, 7))
        gy = draw(st.integers(1, 7))
        base = (np.arange(h)[:, None] * gy + np.arange(w)[None, :] * gx) % 256
        planes = np.stack([(base * k + k) % 256 for k in range(1, 5)]).astype(np.uint8)
    planes = planes.copy()
    if draw(st.booleans()):
        planes[0] = 255  # opaque alpha exercises the alpha-hint bit
    mode = draw(st.sampled_from(["plain", "predictor", "palette", "cte",
                                 "predictor+cte"]))
    kw = {}
    if "predictor" in mode:
        kw.update(use_predictor=True, block_bits=draw(st.integers(2, 5)))
    if "cte" in mode:
        kw["color_cte"] = (draw(st.integers(0, 255)), draw(st.integers(0, 255)),
                           draw(st.integers(0, 255)))
    if mode == "palette":
        kw["use_palette"] = True  # h*w <= 256 so any content is legal
    else:
        kw["cache_bits"] = draw(st.sampled_from([0, 2, 6]))
        if draw(st.booleans()):
            kw["use_meta"] = True
    return planes, kw


@settings(max_examples=80, deadline=None)
@given(_webp_cases())
def test_webp_roundtrip_property(case):
    from irivermetrics_spark.kernels import webp

    planes, kw = case
    buf = webp.encode_vp8l(planes, **kw)
    out = webp.decode_vp8l(buf)
    np.testing.assert_array_equal(out, planes)


# ---- animated webp: random frame stacks / rects / flags vs the ----
# ---- scalar spec compositor (and exact round-trip of payloads) ----

_anim_frames = st.integers(1, 4).flatmap(lambda n: st.tuples(
    st.just(n),
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 2),  # x/2, y/2
                       st.integers(1, 6), st.integers(1, 6),  # w, h
                       st.booleans(), st.booleans()),          # blend, dispose
             min_size=n, max_size=n)))


@settings(max_examples=40, deadline=None)
@given(_anim_frames, st.integers(0, 2**32 - 1))
def test_webp_anim_property_roundtrip_and_composite(spec, seed):
    from irivermetrics_spark.kernels import webpanim

    n, rects = spec
    rng = np.random.default_rng(seed)
    cw = ch = 12
    frames, offsets, blend, dispose = [], [], [], []
    for (x2, y2, fw, fh, bl, dsp) in rects:
        frames.append(rng.integers(0, 256, (4, fh, fw)).astype(np.uint8))
        offsets.append((2 * x2, 2 * y2))
        blend.append(bl)
        dispose.append(dsp)
    buf = webpanim.encode_webp_anim(frames, list(range(n)), offsets=offsets,
                                    blend=blend, dispose=dispose,
                                    canvas_wh=(cw, ch))
    got, durs, info = webpanim.decode_webp_anim(buf)
    assert durs == list(range(n)) and (info.canvas_w, info.canvas_h) == (cw, ch)
    # payload round-trip: each embedded frame decodes back exactly
    for f, want in zip(info.frames, frames):
        np.testing.assert_array_equal(
            webpanim._decode_frame_rgba(f, 1 << 20), want)
    # composite vs the scalar spec reference
    from tests.test_webp_anim import _reference_composite

    want_frames = _reference_composite(frames, offsets, blend, dispose, cw, ch)
    for g, w in zip(got, want_frames):
        np.testing.assert_array_equal(g, w)


# ---- span dedup: random corpora vs the token-tuple reference ----

_span_corpus = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=12),
    min_size=1, max_size=8)


@settings(max_examples=60, deadline=None)
@given(_span_corpus, st.integers(1, 4))
def test_span_window_hashes_match_token_tuples(doc_lists, k):
    # hash equality must coincide EXACTLY with token-tuple equality on
    # this tiny-vocab corpus (dense repeats stress the rolling hash)
    from irivermetrics_spark.operators import spandedup

    wins = {}
    for i, toks in enumerate(doc_lists):
        if len(toks) < k:
            continue
        th = spandedup._token_hashes(toks)
        th2 = (th ^ (th >> np.uint64(31))) * spandedup._MIX
        with np.errstate(over="ignore"):
            h1 = spandedup._window_hashes(th, k, spandedup._B1)
            h2 = spandedup._window_hashes(th2, k, spandedup._B2)
        for p in range(len(toks) - k + 1):
            wins.setdefault(tuple(toks[p:p + k]), set()).add(
                (int(h1[p]), int(h2[p])))
    # same tuple -> same hash pair; different tuples -> different pairs
    assert all(len(v) == 1 for v in wins.values())
    pairs = [next(iter(v)) for v in wins.values()]
    assert len(set(pairs)) == len(pairs)
