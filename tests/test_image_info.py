"""Header-only image metadata probe (codecs.probe_image_info /
multimodal.with_image_info): shape truth vs each codec's own encoder,
real libwebp-encoded VP8 fixtures, and the never-raise contract on
truncated/foreign payloads."""

import struct

import numpy as np
import pandas as pd
import pytest

from irivermetrics_spark import codecs
from irivermetrics_spark.kernels import geotiff, jpeg, png, webp
from irivermetrics_spark.operators import multimodal

from fixture_codecs import encode_webp_anim


def _probe(buf):
    return codecs.probe_image_info(buf)


def test_probe_engine_formats():
    arr = (np.arange(3 * 7 * 11).reshape(3, 7, 11) % 200).astype(np.uint16)
    for fmt in (codecs.FMT_RAW16, codecs.FMT_QLOSSY):
        info = _probe(codecs.encode_image(arr, fmt))
        assert (info["width"], info["height"], info["nbands"]) == (11, 7, 3)
        assert info["fmt_detail"] == fmt and info["decodable"] and info["n_frames"] == 1


def test_probe_tiff_png_jpeg():
    arr = (np.arange(2 * 6 * 9).reshape(2, 6, 9) % 100).astype(np.uint16)
    t = _probe(geotiff.write_geotiff(arr, dict(gx0=0, gy0=0, ps=30.0)))
    assert (t["fmt_detail"], t["width"], t["height"], t["nbands"]) == ("tiff", 9, 6, 2)

    rgb = (np.indices((3, 16, 24)).sum(0) % 256).astype(np.uint8)
    p = _probe(png.encode_png(rgb))
    assert (p["fmt_detail"], p["width"], p["height"], p["nbands"]) == ("png", 24, 16, 3)

    j = _probe(jpeg.encode_baseline(rgb))
    assert (j["fmt_detail"], j["width"], j["height"], j["nbands"]) == ("jpeg", 24, 16, 3)


def test_probe_webp_all_flavours():
    argb = (np.indices((4, 10, 14)).sum(0) % 256).astype(np.uint8)
    argb[0] = 255
    l = _probe(webp.encode_vp8l(argb))
    assert (l["fmt_detail"], l["width"], l["height"]) == ("webp-vp8l", 14, 10)
    assert l["decodable"] and l["n_frames"] == 1

    # real libwebp-encoded lossy fixture; dims from the committed golden
    buf = open("tests/data/vp8_synth_q75.webp", "rb").read()
    g = np.load("tests/data/vp8_goldens.npz")
    h, w = g["vp8_synth_q75_Y"].shape
    v = _probe(buf)
    assert (v["fmt_detail"], v["width"], v["height"], v["nbands"]) == ("webp-vp8", w, h, 3)

    frames = [np.full((4, 6, 8), 40 * (i + 1), np.uint8) for i in range(3)]
    anim = encode_webp_anim(frames, [10, 20, 30])
    a = _probe(anim)
    assert a["fmt_detail"] == "webp-vp8x-anim"
    assert (a["width"], a["height"], a["n_frames"], a["nbands"]) == (8, 6, 3, 4)


def test_probe_foreign_and_truncated():
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 10
    g = _probe(gif)
    assert (g["fmt_detail"], g["width"], g["height"], g["decodable"]) == ("gif", 320, 200, True)

    bmp = (b"BM" + b"\x00" * 16 + struct.pack("<ii", 64, -48) + b"\x00\x00"
           + struct.pack("<HI", 24, 0))  # 24bpp BI_RGB: decodable variant
    b = _probe(bmp)
    assert (b["fmt_detail"], b["width"], b["height"], b["nbands"]) == ("bmp", 64, 48, 3)
    # unsupported variants (BITFIELDS) sniff as bmp-unsupported: shape
    # still probed, decodable stays False so the router diverts them;
    # RLE8 at 8 bpp decodes since late r6
    bitf = (b"BM" + b"\x00" * 16 + struct.pack("<ii", 64, 48) + b"\x00\x00"
            + struct.pack("<HI", 16, 3))
    r = _probe(bitf)
    assert (r["fmt_detail"], r["width"], r["decodable"]) == ("bmp-unsupported", 64, False)
    rle = (b"BM" + b"\x00" * 16 + struct.pack("<ii", 64, 48) + b"\x00\x00"
           + struct.pack("<HI", 8, 1))
    assert _probe(rle)["decodable"]

    # truncated headers: fmt detected, shape None, never raises
    for frag in (b"\x89PNG\r\n\x1a\n", b"II*\x00\x08\x00", b"RIFF1234WEBPVP8 ",
                 b"\xff\xd8\xff", b"", None, b"garbage-bytes"):
        info = _probe(frag)
        assert info["width"] is None and info["n_frames"] is None
    assert _probe(b"garbage-bytes")["fmt_detail"] == "unknown"


def test_with_image_info_spark(spark):
    arr = (np.arange(3 * 8 * 12).reshape(3, 8, 12) % 200).astype(np.uint16)
    rgb = (np.indices((3, 16, 24)).sum(0) % 256).astype(np.uint8)
    rows = [
        ("a", codecs.encode_image(arr, "raw16")),
        ("b", png.encode_png(rgb)),
        ("c", b"GIF89a" + struct.pack("<HH", 9, 5) + b"\x00" * 4),
        ("d", b"\x89PNG\r\n\x1a\n"),  # truncated
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["image_id", "bytes"]))
    got = {r["image_id"]: r for r in multimodal.with_image_info(df).collect()}
    assert (got["a"]["width"], got["a"]["height"], got["a"]["nbands"]) == (12, 8, 3)
    assert got["a"]["decodable"] and got["b"]["decodable"]
    assert (got["b"]["width"], got["b"]["height"]) == (24, 16)
    assert got["c"]["fmt_detail"] == "gif" and got["c"]["decodable"]
    assert got["c"]["width"] == 9
    assert got["d"]["fmt_detail"] == "png" and got["d"]["width"] is None
    # the probe must beat decode: plan has exactly one Arrow UDF eval
    plan = multimodal.with_image_info(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1


def test_probe_engine_video_container():
    from irivermetrics_spark.operators import multimodal

    frames = (np.arange(4 * 2 * 5 * 6).reshape(4, 2, 5, 6) % 100).astype(np.uint16)
    info = _probe(multimodal.encode_video(frames))
    assert info["fmt_detail"] == "irm-video" and not info["decodable"]
    assert (info["width"], info["height"], info["nbands"], info["n_frames"]) == (6, 5, 2, 4)
    # sniff_format stays blind to the container (videos must not image-decode)
    assert codecs.sniff_format(multimodal.encode_video(frames)) == "unknown"


def test_probe_palette_png_reports_decoded_bands():
    # palette PNGs decode to RGB/RGBA; the probe must report the
    # DECODED band count or nbands gates would divert valid images
    buf = open("tests/data/conformance_pal.png", "rb").read()
    info = _probe(buf)
    dec = png.decode_png(buf)
    assert info["nbands"] == dec.shape[0]
    # palette WITHOUT tRNS -> 3 bands
    import zlib as _z
    pal = png.encode_png((np.indices((3, 4, 4)).sum(0) % 2 * 255).astype(np.uint8))
    # (palette-encoding depends on encoder heuristics; just assert the
    # color-type-3 branch directly on a hand-built minimal header)
    ihdr = struct.pack(">IIBBBBB", 7, 5, 8, 3, 0, 0, 0)
    hand = (b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13) + b"IHDR" + ihdr + b"\x00" * 4
            + struct.pack(">I", 0) + b"IDAT" + b"\x00" * 4)
    h = _probe(hand)
    assert (h["width"], h["height"], h["nbands"]) == (7, 5, 3)


def test_probe_video_frame_count_magic_collision():
    # a frame count whose little-endian bytes spell 'BM' (19778) must
    # still probe as irm-video, not as a bmp with garbage dimensions
    frames = np.zeros((2, 1, 4, 4), np.uint16)
    v = multimodal.encode_video(frames)
    forged = (19778).to_bytes(4, "little") + v[4:]
    info = _probe(forged)
    assert info["fmt_detail"] == "irm-video"
    assert (info["width"], info["height"], info["n_frames"]) == (4, 4, 19778)
