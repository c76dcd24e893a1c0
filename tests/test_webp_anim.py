"""Animated WebP (VP8X + ANIM/ANMF) codec tests.

Three independent pins, none self-referential alone:
- container round-trips through the engine's own encoder/decoder,
- every embedded per-frame VP8L bitstream is re-wrapped as a STILL
  .webp and decoded by the system libwebp (the reference
  implementation) — frame pixels must match byte-for-byte,
- compositing (blend / dispose / sub-rect placement) is checked
  against a deliberately naive scalar reference compositor implemented
  here from the container spec's semantics.
"""

import ctypes
import os
import struct

import numpy as np
import pytest

from irivermetrics_spark import codecs
from irivermetrics_spark.kernels import vp8, webp, webpanim

from fixture_codecs import _p24, encode_webp_anim

DATA = os.path.join(os.path.dirname(__file__), "data")
rng = np.random.default_rng(20260817)


def _rand_frame(h, w, opaque=False):
    f = rng.integers(0, 256, size=(4, h, w), dtype=np.uint16).astype(np.uint8)
    if opaque:
        f[0] = 255
    return f


def test_full_canvas_overwrite_roundtrip_exact():
    frames = [_rand_frame(13, 21) for _ in range(4)]
    buf = encode_webp_anim(frames, [40, 50, 60, 70],
                           blend=[False] * 4, loop_count=3)
    assert codecs.sniff_format(buf) == "webp-vp8x-anim"
    out, durs, info = webpanim.decode_webp_anim(buf)
    assert out.shape == (4, 4, 13, 21)
    assert durs == [40, 50, 60, 70]
    assert info.loop_count == 3
    for got, want in zip(out, frames):
        np.testing.assert_array_equal(got, want)


def _reference_composite(frames, offsets, blend, dispose, cw, ch):
    """Scalar per-pixel spec compositor (independent of the kernel's
    vectorized path): src-over with libwebp's integer formula."""
    canvas = np.zeros((4, ch, cw), dtype=np.int64)
    outs = []
    for f, (x, y), bl, dsp in zip(frames, offsets, blend, dispose):
        _, fh, fw = f.shape
        for yy in range(fh):
            for xx in range(fw):
                sa = int(f[0, yy, xx])
                dst = canvas[:, y + yy, x + xx]
                if not bl:
                    canvas[:, y + yy, x + xx] = f[:, yy, xx]
                elif sa != 0:
                    da = int(dst[0])
                    ba = sa + (da * (255 - sa)) // 255
                    sc = (sa * 255) // ba
                    for c in (1, 2, 3):
                        dst[c] = (int(f[c, yy, xx]) * sc
                                  + int(dst[c]) * (255 - sc)) // 255
                    dst[0] = ba
        outs.append(canvas.astype(np.uint8).copy())
        if dsp:
            canvas[:, y : y + fh, x : x + fw] = 0
    return outs


def test_subrect_blend_dispose_vs_scalar_reference():
    cw, ch = 20, 14
    frames = [_rand_frame(14, 20), _rand_frame(6, 8), _rand_frame(4, 10),
              _rand_frame(14, 20)]
    offsets = [(0, 0), (4, 2), (10, 8), (0, 0)]
    blend = [False, True, True, True]
    dispose = [False, True, False, False]
    buf = encode_webp_anim(frames, [10] * 4, offsets=offsets,
                           blend=blend, dispose=dispose,
                           canvas_wh=(cw, ch))
    got, _, _ = webpanim.decode_webp_anim(buf)
    want = _reference_composite(frames, offsets, blend, dispose, cw, ch)
    for i, (g, w_) in enumerate(zip(got, want)):
        np.testing.assert_array_equal(g, w_, err_msg=f"frame {i}")


def test_embedded_frames_decode_identically_in_libwebp():
    lib_path = "/usr/lib/x86_64-linux-gnu/libwebp.so.7"
    if not os.path.exists(lib_path):
        pytest.skip("system libwebp not present")
    lib = ctypes.CDLL(lib_path)
    lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
    frames = [_rand_frame(9, 12), _rand_frame(9, 12, opaque=True)]
    buf = encode_webp_anim(frames, [33, 44], blend=[False, False])
    info = webpanim.parse_webp_anim(buf)
    assert [f.tag for f in info.frames] == [b"VP8L", b"VP8L"]
    for f, want in zip(info.frames, frames):
        # re-wrap the bare ANMF bitstream as a still .webp for libwebp
        chunk = (b"VP8L" + struct.pack("<I", len(f.payload)) + f.payload
                 + (b"\x00" if len(f.payload) & 1 else b""))
        still = b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
        w = ctypes.c_int()
        h = ctypes.c_int()
        ptr = lib.WebPDecodeRGBA(still, len(still), ctypes.byref(w),
                                 ctypes.byref(h))
        assert ptr, "libwebp rejected the engine-assembled frame stream"
        assert (w.value, h.value) == (12, 9)
        rgba = np.ctypeslib.as_array(ptr, shape=(9, 12, 4)).copy()
        lib.WebPFree(ptr)
        np.testing.assert_array_equal(rgba[:, :, 3], want[0])  # A
        np.testing.assert_array_equal(np.moveaxis(rgba[:, :, :3], 2, 0),
                                      want[1:])  # RGB


def test_lossy_vp8_frame_inside_anmf():
    # embed a REAL libwebp-encoded VP8 bitstream (committed fixture) as
    # an animation frame; composited pixels must equal the still decode
    still = open(os.path.join(DATA, "vp8_synth_q75.webp"), "rb").read()
    payload = dict(webpanim.iter_chunks(still))[b"VP8 "]
    Y, U, V = vp8.decode_vp8(payload)
    h, w = Y.shape
    p24 = _p24
    head = (b"\x00" * 6 + p24(w - 1) + p24(h - 1)
            + b"\x64\x00\x00" + b"\x02")  # duration 100, no-blend
    chunk = payload + (b"\x00" if len(payload) & 1 else b"")
    anmf = head + b"VP8 " + struct.pack("<I", len(payload)) + chunk
    vp8x = bytes([0x02, 0, 0, 0]) + p24(w - 1) + p24(h - 1)
    riff = (b"WEBP"
            + b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
            + b"ANIM" + struct.pack("<I", 6) + b"\x00" * 6
            + b"ANMF" + struct.pack("<I", len(anmf)) + anmf)
    buf = b"RIFF" + struct.pack("<I", len(riff)) + riff
    out, durs, _ = webpanim.decode_webp_anim(buf)
    assert durs == [100]
    np.testing.assert_array_equal(out[0, 1:], vp8.yuv420_to_rgb(Y, U, V))
    assert (out[0, 0] == 255).all()
    # the still-image router sees the same pixels (first frame)
    g16 = webp.decode_webp_gray16(buf)
    assert g16.shape == (3, h, w)
    np.testing.assert_array_equal(g16.astype(np.uint8), out[0, 1:])


def test_every_k_sampling_matches_full_walk():
    frames = [_rand_frame(8, 8) for _ in range(7)]
    offsets = [(0, 0), (2, 2), (0, 4), (4, 0), (2, 0), (0, 0), (4, 4)]
    fr_small = [f[:, :4, :4] for f in frames[1:]]
    use = [frames[0]] + fr_small
    buf = encode_webp_anim(use, list(range(7)), offsets=offsets,
                           canvas_wh=(8, 8),
                           blend=[False] + [True] * 6,
                           dispose=[False, True] * 3 + [False])
    full, _, _ = webpanim.decode_webp_anim(buf, every_k=1)
    samp, durs, _ = webpanim.decode_webp_anim(buf, every_k=3)
    np.testing.assert_array_equal(samp, full[::3])
    assert durs == [0, 3, 6]


def test_adversarial_headers_bounded():
    f = _rand_frame(4, 4)
    buf = encode_webp_anim([f], [10])
    with pytest.raises(ValueError, match="max_pixels"):
        webpanim.decode_webp_anim(buf, max_pixels=8)
    with pytest.raises(ValueError, match="frames exceeds"):
        webpanim.decode_webp_anim(buf, max_frames=0)
    with pytest.raises(ValueError, match="even"):
        encode_webp_anim([f, f], [1, 2], offsets=[(0, 0), (1, 0)])
    with pytest.raises(ValueError, match="canvas"):
        encode_webp_anim([f, f], [1, 2], offsets=[(0, 0), (2, 0)],
                         canvas_wh=(4, 4))
    # frame rect escaping the declared canvas must not write OOB
    bad = bytearray(buf)
    i = bad.find(b"VP8X") + 8 + 4
    bad[i:i + 3] = bytes((1, 0, 0))  # shrink canvas w to 2
    with pytest.raises(ValueError, match="exceeds canvas"):
        webpanim.decode_webp_anim(bytes(bad))
    with pytest.raises(ValueError, match="no VP8"):
        webpanim._parse_anmf(b"\x00" * 16)
    with pytest.raises(ValueError, match="not an animated"):
        webpanim.parse_webp_anim(
            open(os.path.join(DATA, "vp8_python.webp"), "rb").read())


def test_anim_is_decodable_detail_now():
    assert "webp-vp8x-anim" in codecs.DECODABLE_DETAILS


def test_frame_sample_animated_webp_spark(spark):
    import pandas as pd

    from irivermetrics_spark.operators import multimodal

    frames = [_rand_frame(6, 10) for _ in range(5)]
    buf = encode_webp_anim(frames, [10] * 5, blend=[False] * 5)
    # engine-container video in the SAME table: both paths must coexist
    vid = rng.integers(0, 20000, (4, 3, 6, 10), dtype=np.uint16)
    rows = [dict(video_id="anim0", bytes=buf),
            dict(video_id="eng0", bytes=multimodal.encode_video(vid))]
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = multimodal.frame_sample(df, every_k=2).toPandas()
    by = {(r.video_id, r.frame_idx): r for r in out.itertuples(index=False)}
    assert sorted(by) == [("anim0", 0), ("anim0", 2), ("anim0", 4),
                          ("eng0", 0), ("eng0", 2)]
    want, _, _ = webpanim.decode_webp_anim(buf)
    for idx in (0, 2, 4):
        r = by[("anim0", idx)]
        assert (r.w, r.h, r.fmt) == (10, 6, codecs.FMT_RAW16)
        got = codecs.decode_image(bytes(r.bytes))
        np.testing.assert_array_equal(got.astype(np.uint8), want[idx])
    np.testing.assert_array_equal(
        codecs.decode_image(bytes(by[("eng0", 2)].bytes)), vid[2])


def test_resize_and_embed_accept_animations(spark):
    import pandas as pd

    from irivermetrics_spark.operators import multimodal

    frames = [_rand_frame(8, 12, opaque=True) for _ in range(3)]
    buf = encode_webp_anim(frames, [10] * 3, blend=[False] * 3)
    df = spark.createDataFrame(pd.DataFrame(
        [dict(image_id="anim", bytes=buf, w=12, h=8, fmt="webp")]))
    out = multimodal.resize_images(df, 6, 4, on_error="quarantine").toPandas()
    assert out.iloc[0]["error"] is None  # decodes (first frame), no divert
    got = codecs.decode_image(bytes(out.iloc[0]["bytes"]))
    first = webpanim.decode_webp_anim_first(buf)[1:].astype(np.uint16)
    np.testing.assert_array_equal(
        got, multimodal.resize_image(first, 6, 4))
    emb = multimodal.embed_images(df).toPandas()
    assert len(emb) == 1 and len(emb.iloc[0]["embedding"]) > 0
