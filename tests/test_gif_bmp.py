"""GIF and BMP codecs (kernels/gif.py, kernels/bmp.py): encoder/decoder
round-trips, a hand-assembled interlaced golden, LZW width-bump and
table-overflow paths, multi-frame counting, and the Spark decode
routing that used to divert these formats."""
import struct

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from irivermetrics_spark import codecs
from irivermetrics_spark.kernels import bmp, gif

from fixture_codecs import encode_bmp


def _rgb(h, w, seed=0, colors=8):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (colors, 3))
    idx = rng.integers(0, colors, (h, w))
    return pal[idx].transpose(2, 0, 1).astype(np.uint16)


# ---------- BMP ----------

def test_bmp_roundtrip_24bit():
    a = _rgb(13, 17, seed=1)
    got = bmp.decode_bmp(encode_bmp(a))
    assert got.dtype == np.uint16 and np.array_equal(got, a)


def test_bmp_8bit_palette_and_topdown():
    # hand-build: 4x2 8-bit palette BMP, top-down (negative height)
    pal = bytes([10, 20, 30, 0, 200, 150, 100, 0])  # 2 BGRX entries
    rows = bytes([0, 1, 1, 0]) + bytes([1, 0, 0, 1])  # stride 4 = w
    info = struct.pack("<IiiHHIIiiII", 40, 4, -2, 1, 8, 0, len(rows),
                       0, 0, 2, 0)
    off = 14 + 40 + len(pal)
    buf = b"BM" + struct.pack("<IHHI", off + len(rows), 0, 0, off) + info + pal + rows
    got = bmp.decode_bmp(buf)
    assert got.shape == (3, 2, 4)
    assert got[:, 0, 0].tolist() == [30, 20, 10]   # BGR -> RGB
    assert got[:, 0, 1].tolist() == [100, 150, 200]
    assert got[:, 1, 0].tolist() == [100, 150, 200]  # top-down preserved


def test_bmp_32bit_alpha_dropped():
    a = _rgb(5, 5, seed=2)
    buf24 = encode_bmp(a)
    # rebuild as 32-bit: insert alpha byte per pixel
    px = a[[2, 1, 0]].transpose(1, 2, 0).astype(np.uint8)[::-1]
    bgra = np.concatenate([px, np.full((5, 5, 1), 99, np.uint8)], axis=2)
    data = bgra.tobytes()
    info = struct.pack("<IiiHHIIiiII", 40, 5, 5, 1, 32, 0, len(data), 0, 0, 0, 0)
    buf = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54) + info + data
    assert np.array_equal(bmp.decode_bmp(buf), bmp.decode_bmp(buf24))


def test_bmp_rejects():
    for bad in (b"", b"BMshort", b"II*\x00"):
        with pytest.raises(ValueError):
            bmp.decode_bmp(bad)
    a = _rgb(3, 3)
    with pytest.raises(ValueError):
        encode_bmp(a * 300)  # >255 samples
    bf = bytearray(encode_bmp(a))
    struct.pack_into("<I", bf, 30, 3)  # BI_BITFIELDS: unsupported
    with pytest.raises(ValueError, match="compression"):
        bmp.decode_bmp(bytes(bf))
    rle24 = bytearray(encode_bmp(a))
    struct.pack_into("<I", rle24, 30, 1)  # RLE8 flag on 24-bit data
    with pytest.raises(ValueError, match="compression 1 at 24 bpp"):
        bmp.decode_bmp(bytes(rle24))


# ---------- GIF ----------

def test_gif_roundtrip_small_palette():
    a = _rgb(11, 23, seed=3, colors=5)
    got = gif.decode_gif(gif.encode_gif(a))
    assert got.dtype == np.uint16 and np.array_equal(got, a)


def test_gif_roundtrip_256_colors_width_bumps():
    # 256 colors + noisy image: exercises width bumps 9->10->11->12
    # and (at this size) table growth deep into the dictionary
    rng = np.random.default_rng(4)
    pal = rng.integers(0, 256, (256, 3))
    idx = rng.integers(0, 256, (64, 64))
    a = pal[idx].transpose(2, 0, 1).astype(np.uint16)
    got = gif.decode_gif(gif.encode_gif(a))
    assert np.array_equal(got, a)


def test_gif_table_overflow_clear():
    # highly diverse 128x128 forces the 4096-entry table to fill ->
    # encoder emits mid-stream CLEAR; decoder must resync
    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, (256, 3))
    idx = rng.integers(0, 256, (128, 128))
    a = pal[idx].transpose(2, 0, 1).astype(np.uint16)
    got = gif.decode_gif(gif.encode_gif(a))
    assert np.array_equal(got, a)


def test_gif_grayscale_and_two_color():
    a = (np.arange(12).reshape(3, 4) % 2 * 255).astype(np.uint16)
    got = gif.decode_gif(gif.encode_gif(a))
    assert np.array_equal(got[0], a) and np.array_equal(got[1], a)


def test_gif_interlaced_hand_built():
    """Interlace golden: encode normally, then rewrite the image as
    interlaced by reordering rows into the 4-pass layout and setting
    the interlace flag — the decoder must undo it exactly."""
    a = _rgb(13, 7, seed=6, colors=4)
    plain = bytearray(gif.encode_gif(a))
    # locate the image descriptor (0x2C after the 6+7+GCT header)
    flags = plain[10]
    gct_len = (2 << (flags & 0x07)) * 3
    desc = 13 + gct_len
    assert plain[desc] == 0x2C
    h, w = 13, 7
    # decode the palette indices by re-decoding the plain image
    rgb = gif.decode_gif(bytes(plain))
    pal = np.frombuffer(bytes(plain[13:13 + gct_len]), np.uint8).reshape(-1, 3)
    lut = {tuple(c): i for i, c in enumerate(pal)}
    idx = np.array([[lut[tuple(rgb[:, y, x].astype(np.uint8))] for x in range(w)]
                    for y in range(h)])
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, h, step))
    inter_idx = idx[order]
    mcs = plain[desc + 10]
    lzw = gif._lzw_encode(inter_idx.ravel(), mcs)
    out = bytearray(plain[:desc])
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40)  # interlace flag
    out.append(mcs)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    got = gif.decode_gif(bytes(out))
    assert np.array_equal(got, gif.decode_gif(bytes(plain)))


def test_gif_multiframe_count_and_frame_select():
    a = _rgb(6, 6, seed=7, colors=3)
    b_ = _rgb(6, 6, seed=8, colors=3)
    one = bytearray(gif.encode_gif(a))
    two = bytearray(gif.encode_gif(b_))
    flags = two[10]
    gct_len2 = (2 << (flags & 0x07)) * 3
    # append second image descriptor (with ITS palette as a local one)
    desc2 = bytearray(two[13 + gct_len2:-1])  # 0x2C ... (no trailer)
    # give frame 2 a local color table: set LCT flag + palette bits
    pal2 = bytes(two[13:13 + gct_len2])
    n_bits = flags & 0x07
    desc2[9] = 0x80 | n_bits
    desc2[10:10] = pal2  # insert LCT right after the descriptor
    merged = bytes(one[:-1]) + bytes(desc2) + b"\x3b"
    assert gif.count_images(merged) == 2
    assert np.array_equal(gif.decode_gif(merged, frame=0), gif.decode_gif(bytes(one)))
    assert np.array_equal(gif.decode_gif(merged, frame=1), gif.decode_gif(bytes(two)))
    with pytest.raises(ValueError, match="no image descriptor"):
        gif.decode_gif(merged, frame=2)


def test_gif_rejects():
    for bad in (b"", b"GIF89a", b"NOTGIF" + b"\x00" * 20):
        with pytest.raises(ValueError):
            gif.decode_gif(bad)
    rng = np.random.default_rng(10)
    noisy = rng.integers(0, 256, (3, 30, 30)).astype(np.uint16)
    assert len(np.unique(noisy.reshape(3, -1).T, axis=0)) > 256
    with pytest.raises(ValueError, match="256"):
        gif.encode_gif(noisy)


@settings(max_examples=25, deadline=None)
@given(h=st.integers(1, 24), w=st.integers(1, 24),
       colors=st.integers(1, 16), seed=st.integers(0, 2**31 - 1))
def test_gif_property_roundtrip(h, w, colors, seed):
    a = _rgb(h, w, seed=seed, colors=colors)
    assert np.array_equal(gif.decode_gif(gif.encode_gif(a)), a)


# ---------- Spark routing ----------

def test_spark_decode_path_for_gif_and_bmp(spark):
    from irivermetrics_spark.operators import multimodal

    a = _rgb(8, 10, seed=9, colors=6)
    rows = [("g", gif.encode_gif(a), "gif"), ("b", encode_bmp(a), "bmp")]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    assert {codecs.sniff_format(b) for _, b, _ in rows} == {"gif", "bmp"}
    assert {"gif", "bmp"} <= codecs.DECODABLE_DETAILS
    emb = multimodal.embed_images(df).collect()
    assert len(emb) == 2  # both decode through _decode_any without error
    resized = {r["image_id"]: r for r in multimodal.resize_images(df, 5, 4).collect()}
    assert resized["g"]["w"] == 5 and resized["b"]["h"] == 4


def test_probe_counts_gif_frames():
    a = _rgb(6, 6, seed=11, colors=3)
    one = gif.encode_gif(a)
    info = codecs.probe_image_info(one)
    assert (info["fmt_detail"], info["n_frames"]) == ("gif", 1)
    # truncated tail: shape survives, frame count degrades to None
    info2 = codecs.probe_image_info(one[:20])
    assert info2["width"] == 6 and info2["n_frames"] in (None, 0)


def test_lzw_end_code_width_bump_boundary():
    """When the decoder's add for the FINAL data code lands the table
    exactly on 2^width, a strict decoder bumps before reading END —
    the encoder must emit END at the bumped width (review find). With
    mcs=2: codes go clear(4),0,1,2 at width 3, then END at width 4."""
    stream = gif._lzw_encode(np.array([0, 1, 2]), 2)
    # LSB-first bit reader
    acc = int.from_bytes(stream, "little")
    got, pos = [], 0
    for w in (3, 3, 3, 3, 4):
        got.append((acc >> pos) & ((1 << w) - 1))
        pos += w
    assert got == [4, 0, 1, 2, 5]  # clear, roots, END at the bumped width
    # and the in-repo decoder still round-trips it
    assert gif._lzw_decode(stream, 2, 3).tolist() == [0, 1, 2]


def test_frame_sample_routes_gif(spark):
    from irivermetrics_spark.operators import multimodal

    a = _rgb(6, 6, seed=12, colors=3)
    b_ = _rgb(6, 6, seed=13, colors=3)
    one = bytearray(gif.encode_gif(a))
    two = bytearray(gif.encode_gif(b_))
    flags = two[10]
    gct_len2 = (2 << (flags & 0x07)) * 3
    desc2 = bytearray(two[13 + gct_len2:-1])
    desc2[9] = 0x80 | (flags & 0x07)
    desc2[10:10] = bytes(two[13:13 + gct_len2])
    merged = bytes(one[:-1]) + bytes(desc2) + b"\x3b"
    df = spark.createDataFrame([("g", merged)], "video_id string, bytes binary")
    out = multimodal.frame_sample(df, every_k=1).toPandas().sort_values("frame_idx")
    assert out.frame_idx.tolist() == [0, 1]
    got0 = codecs.decode_image(bytes(out.iloc[0]["bytes"]))
    assert np.array_equal(got0, gif.decode_gif(merged, frame=0))
    got1 = codecs.decode_image(bytes(out.iloc[1]["bytes"]))
    assert np.array_equal(got1, gif.decode_gif(merged, frame=1))


def test_bmp_out_of_palette_clips():
    pal = bytes([10, 20, 30, 0, 200, 150, 100, 0])  # only 2 entries
    rows = bytes([0, 5, 1, 0]) + bytes([7, 0, 0, 1])  # 5 and 7 overflow
    info = struct.pack("<IiiHHIIiiII", 40, 4, -2, 1, 8, 0, len(rows),
                       0, 0, 2, 0)
    off = 14 + 40 + len(pal)
    buf = b"BM" + struct.pack("<IHHI", off + len(rows), 0, 0, off) + info + pal + rows
    got = bmp.decode_bmp(buf)  # must not raise
    assert got[:, 0, 1].tolist() == [100, 150, 200]  # clipped to entry 1


def _gce(disposal, transparent_idx=None):
    gflags = (disposal & 0x07) << 2
    t = 0
    if transparent_idx is not None:
        gflags |= 1
        t = transparent_idx
    return b"\x21\xf9\x04" + bytes([gflags, 0, 0, t]) + b"\x00"


def _frame_block(left, top, idx2d, mcs):
    h, w = idx2d.shape
    out = bytearray(b"\x2c" + struct.pack("<HHHHB", left, top, w, h, 0))
    out.append(mcs)
    lzw = gif._lzw_encode(np.asarray(idx2d).ravel(), mcs)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00"
    return bytes(out)


def _anim(frames_with_gce, sw, sh, palette):
    """Hand-assemble an animated GIF: global palette + (gce, frame)."""
    n = len(palette)
    bits = max(1, int(np.ceil(np.log2(max(n, 2)))))
    pal = np.zeros((1 << bits, 3), dtype=np.uint8)
    pal[:n] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", sw, sh, 0x80 | ((bits - 1) & 0x07), 0, 0)
    out += pal.tobytes()
    for gce, frame in frames_with_gce:
        out += gce + frame
    out += b"\x3b"
    return bytes(out)


def test_gif_animation_compositing_transparency_and_disposal():
    """Player semantics: frame 2 is a partial delta whose transparent
    pixels show frame 1 through; disposal 2 restores background before
    frame 3; disposal 3 restores the pre-frame canvas."""
    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]],
                   dtype=np.uint8)
    mcs = 2
    full = np.full((4, 4), 1)          # all red
    delta = np.array([[2, 0], [0, 2]])  # green + transparent(idx 0)
    blocks = [
        (_gce(1), _frame_block(0, 0, full, mcs)),
        (_gce(2, transparent_idx=0), _frame_block(1, 1, delta, mcs)),
        (_gce(3, transparent_idx=0), _frame_block(0, 0, np.array([[3]]), mcs)),
        (_gce(1), _frame_block(0, 0, np.array([[2]]), mcs)),
    ]
    buf = _anim(blocks, 4, 4, pal)
    frames = [f for _, f in gif.sample_frames(buf)]
    assert len(frames) == 4
    f1, f2, f3, f4 = frames
    # frame 1: solid red
    assert (f1[0] == 255).all() and (f1[1] == 0).all()
    # frame 2: green at (1,1) and (2,2); transparent cells show red
    assert f2[:, 1, 1].tolist() == [0, 255, 0]
    assert f2[:, 1, 2].tolist() == [255, 0, 0]  # transparent -> red shows
    assert f2[:, 2, 2].tolist() == [0, 255, 0]
    assert f2[:, 0, 0].tolist() == [255, 0, 0]  # outside the delta rect
    # frame 3 painted AFTER disposal 2 restored background (palette 0 =
    # black) in frame 2's rect: (1,1)..(2,2) black now, (0,0) blue
    assert f3[:, 0, 0].tolist() == [0, 0, 255]
    assert f3[:, 1, 1].tolist() == [0, 0, 0]
    assert f3[:, 1, 2].tolist() == [0, 0, 0]
    assert f3[:, 3, 3].tolist() == [255, 0, 0]  # untouched red corner
    # frame 4 painted after disposal 3 restored the canvas FROM BEFORE
    # frame 3: (0,0) back to red, then painted green by frame 4
    assert f4[:, 0, 0].tolist() == [0, 255, 0]
    assert f4[:, 1, 1].tolist() == [0, 0, 0]  # disposal-2 bg persists
    # decode_gif(frame=N) returns the composited Nth frame
    assert np.array_equal(gif.decode_gif(buf, frame=2), f3)


def test_bmp_rle8_decodes():
    """BI_RLE8: runs, a literal segment (word-aligned), an EOL, a
    delta skip (skipped cells read 0) and EOB — hand-assembled and
    checked cell-by-cell against the spec walk."""
    pal = np.array([[1, 2, 3, 0], [10, 20, 30, 0], [100, 110, 120, 0]],
                   dtype=np.uint8)
    # target 6x3 (bottom-up rows in the stream):
    # stream row 0 (bottom): run 4x idx1, literal [2, 0], EOL
    # stream row 1: run 2x idx2, delta (+2,0), run 2x idx1, EOL
    # stream row 2 (top): literal [0,1,2] (padded), run 3x idx0, EOB
    rle = bytes([
        4, 1,          # 4 cells of palette 1
        0, 3, 2, 0, 0, 0,  # literal run of 3: [2,0,0] + pad
        0, 0,          # end of line
        2, 2,          # 2 cells of palette 2
        0, 2, 2, 0,    # delta: skip 2 right
        2, 1,          # 2 cells of palette 1
        0, 0,          # end of line
        0, 3, 0, 1, 2, 0,  # literal [0,1,2] + pad
        3, 0,          # 3 cells of palette 0
        0, 1,          # end of bitmap
    ])
    info = struct.pack("<IiiHHIIiiII", 40, 6, 3, 1, 8, 1, len(rle),
                       0, 0, 3, 0)
    off = 14 + 40 + len(pal.tobytes())
    buf = (b"BM" + struct.pack("<IHHI", off + len(rle), 0, 0, off)
           + info + pal.tobytes() + rle)
    from irivermetrics_spark import codecs as _codecs
    assert _codecs.sniff_format(buf) == "bmp"
    got = bmp.decode_bmp(buf)
    rgb = {0: [3, 2, 1], 1: [30, 20, 10], 2: [120, 110, 100]}
    # bottom stream row is the LAST raster row (bottom-up)
    want_rows = [
        [0, 1, 2, 0, 0, 0],      # top raster row = stream row 2
        [2, 2, 0, 0, 1, 1],      # middle: run2x2, delta-skipped zeros, run2x1
        [1, 1, 1, 1, 2, 0],      # bottom raster row = stream row 0
    ]
    for y, row in enumerate(want_rows):
        for x, pi in enumerate(row):
            assert got[:, y, x].tolist() == rgb[pi], (y, x)


def test_gif_truncated_extension_and_offscreen_frame():
    """Bounds review finds: a GIF ending mid-extension raises
    ValueError (not IndexError); a frame positioned past the screen
    paints nothing but still yields."""
    pal = np.array([[0, 0, 0], [255, 0, 0]], dtype=np.uint8)
    head = _anim([], 2, 2, pal)[:-1]  # header + GCT, no trailer
    with pytest.raises(ValueError):
        [f for _, f in gif.sample_frames(head + b"\x21")]
    with pytest.raises(ValueError):
        [f for _, f in gif.sample_frames(head + b"\x21\xf9\x04")]
    with pytest.raises(ValueError):
        [f for _, f in gif.sample_frames(head + b"\x2c\x00\x00")]
    # fully offscreen frame: top=5 on a 2x2 screen
    off = _frame_block(0, 5, np.full((3, 2), 1), 2)
    on = _frame_block(0, 0, np.full((2, 2), 1), 2)
    buf = head + _gce(1) + off + _gce(1) + on + b"\x3b"
    frames = [f for _, f in gif.sample_frames(buf)]
    assert len(frames) == 2
    assert (frames[0] == 0).all()          # nothing painted
    assert (frames[1][0] == 255).all()     # second frame paints red


def test_frame_sample_gif_quarantine_keeps_prefix(spark):
    from irivermetrics_spark.operators import multimodal

    pal = np.array([[0, 0, 0], [255, 0, 0]], dtype=np.uint8)
    head = _anim([], 3, 3, pal)[:-1]
    good = _frame_block(0, 0, np.full((3, 3), 1), 2)
    # corrupt second frame: descriptor promises data, stream truncated
    bad = bytearray(_frame_block(0, 0, np.full((3, 3), 1), 2))
    corrupt = bytes(bad[:12])  # cut inside the LZW sub-blocks
    buf = head + _gce(1) + good + _gce(1) + corrupt
    df = spark.createDataFrame([("v", buf)], "video_id string, bytes binary")
    out = multimodal.frame_sample(df, every_k=1, on_error="quarantine").toPandas()
    assert out.frame_idx.tolist() == [0]  # prefix survives
    with pytest.raises(Exception):
        multimodal.frame_sample(df, every_k=1).toPandas()
    with pytest.raises(ValueError):
        multimodal.frame_sample(df, on_error="nope")


def test_sample_frames_matches_iter_frames():
    a = _rgb(5, 5, seed=20, colors=3)
    b_ = _rgb(5, 5, seed=21, colors=3)
    buf = bytearray(gif.encode_gif(a))
    two = bytearray(gif.encode_gif(b_))
    flags = two[10]
    g = (2 << (flags & 0x07)) * 3
    d2 = bytearray(two[13 + g:-1])
    d2[9] = 0x80 | (flags & 0x07)
    d2[10:10] = bytes(two[13:13 + g])
    merged = bytes(buf[:-1]) + bytes(d2) * 3 + b"\x3b"  # 4 frames
    allf = [f for _, f in gif.sample_frames(merged)]
    sampled = list(gif.sample_frames(merged, every_k=2))
    assert [i for i, _ in sampled] == [0, 2]
    assert np.array_equal(sampled[0][1], allf[0])
    assert np.array_equal(sampled[1][1], allf[2])


def test_image_quality_normalizes_gif_bmp_to_8bit_peak(spark):
    """gif/bmp carry native 0-255 samples: the quality pass must use
    the 8-bit peak, not the engine's 20000-DN reflectance peak (found
    live: every signal of a gif row flattened to ~0)."""
    from irivermetrics_spark.operators import multimodal

    rng = np.random.default_rng(30)
    base = rng.integers(0, 180, (8, 12)).astype(np.float64)
    img = np.kron(base, np.ones((8, 8)))
    a = np.stack([img, img, img]).clip(0, 255).astype(np.uint16)
    from irivermetrics_spark.kernels import png as pngk
    rows = [("g", gif.encode_gif(a), "gif"),
            ("b", encode_bmp(a), "bmp"),
            ("p", pngk.encode_png(a.astype(np.uint8)), "png")]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    q = (multimodal.with_image_quality(df).toPandas()
         .set_index("image_id"))
    for fid in ("g", "b"):
        assert q.loc[fid].entropy == pytest.approx(q.loc["p"].entropy, rel=1e-6)
        assert q.loc[fid].sharpness == pytest.approx(q.loc["p"].sharpness, rel=1e-6)
        assert q.loc[fid].entropy > 1.0


@settings(max_examples=25, deadline=None)
@given(h=st.integers(1, 32), w=st.integers(1, 32), seed=st.integers(0, 2**31 - 1))
def test_bmp_property_roundtrip(h, w, seed):
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 256, (3, h, w)).astype(np.uint16)
    got = bmp.decode_bmp(encode_bmp(a))
    assert np.array_equal(got, a)
