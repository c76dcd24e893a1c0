"""EXIF kernel (kernels/exif.py) + operator surface: writer/parser
round-trip, hand-built big-endian truth (independent of the writer),
orientation transform semantics, JPEG APP1 splice compatibility with
the baseline codec, and the Spark with_exif / resize(orient=True)
paths."""

import struct

import numpy as np
import pytest

from irivermetrics_spark import codecs
from irivermetrics_spark.kernels import exif as exifk
from irivermetrics_spark.kernels import jpeg as jpegk

from fixture_codecs import psnr


def test_writer_parser_round_trip():
    blob = exifk.build_tiff_exif(
        orientation=6, make="SynthCam", model="SC-1000",
        datetime_original="2021:07:04 12:30:45", gps=(-33.8568, 151.2153))
    d = exifk.parse_tiff_exif(blob)
    assert d.get("error") is None or "error" not in d
    assert d["orientation"] == 6
    assert d["make"] == "SynthCam"
    assert d["model"] == "SC-1000"
    assert d["datetime_original"] == "2021:07:04 12:30:45"
    assert d["gps_lat"] == pytest.approx(-33.8568, abs=1e-4)
    assert d["gps_lon"] == pytest.approx(151.2153, abs=1e-4)


def test_short_ascii_values_round_trip_inline():
    """TIFF 6.0: a value whose size fits in 4 bytes lives INLINE in the
    entry's value field — the writer must not emit an offset there (a
    spec-correct reader would decode the offset bytes as the string)."""
    blob = exifk.build_tiff_exif(orientation=1, make="C", model="ab")
    d = exifk.parse_tiff_exif(blob)
    assert d["make"] == "C" and d["model"] == "ab"


def test_hand_built_big_endian_blob():
    """MM byte order, built by hand — the parser must not depend on
    the module's own (little-endian) writer."""
    # header + IFD0 with 2 entries: Orientation=3 (SHORT inline),
    # Make='X' (ASCII, 2 bytes incl NUL, inline)
    ifd = struct.pack(">H", 2)
    ifd += struct.pack(">HHI", 271, 2, 2) + b"X\x00\x00\x00"
    ifd += struct.pack(">HHI", 274, 3, 1) + struct.pack(">H", 3) + b"\x00\x00"
    ifd += struct.pack(">I", 0)
    blob = b"MM\x00*" + struct.pack(">I", 8) + ifd
    d = exifk.parse_tiff_exif(blob)
    assert d["orientation"] == 3 and d["make"] == "X"


def test_parse_never_raises_on_hostile_input():
    import random

    rng = random.Random(5)
    good = exifk.build_tiff_exif(orientation=2, make="A", gps=(1.0, 2.0))
    jpg = jpegk.encode_baseline(np.full((1, 8, 8), 128, np.uint8))
    spliced = exifk.insert_exif_app1(jpg, good)
    for base in (good, spliced):
        for _ in range(200):
            cut = rng.randrange(len(base))
            b = bytearray(base[:cut] + base[cut:])
            b[rng.randrange(len(b))] ^= 1 + rng.randrange(255)
            out = exifk.parse_exif(bytes(b[:cut + rng.randrange(40)]))
            assert isinstance(out, dict)
    assert exifk.parse_exif(None) == {}
    assert exifk.parse_exif(b"") == {}
    assert exifk.parse_exif(b"\x89PNG no exif here") == {}


# EXIF 2.3 orientation truth on an asymmetric array: display[i,j]
# written out longhand from the spec's row0/col0 table.
_A = np.array([[1, 2, 3], [4, 5, 6]])
_EXPECT = {
    1: _A,
    2: _A[:, ::-1],                      # top-right: mirror horizontal
    3: _A[::-1, ::-1],                   # bottom-right: rotate 180
    4: _A[::-1, :],                      # bottom-left: mirror vertical
    5: _A.T,                             # left-top: transpose
    6: np.array([[4, 1], [5, 2], [6, 3]]),   # right-top: rotate 90 CW
    7: np.array([[6, 3], [5, 2], [4, 1]]),   # right-bottom: transverse
    8: np.array([[3, 6], [2, 5], [1, 4]]),   # left-bottom: rotate 90 CCW
}


@pytest.mark.parametrize("o", sorted(_EXPECT))
def test_apply_orientation_truth(o):
    got = exifk.apply_orientation(_A, o)
    assert np.array_equal(got, _EXPECT[o]), o
    # band-first 3-D arrays transform per-band identically
    got3 = exifk.apply_orientation(np.stack([_A, 10 * _A]), o)
    assert np.array_equal(got3[1], 10 * _EXPECT[o])


def test_apply_orientation_rejects_out_of_range():
    with pytest.raises(ValueError):
        exifk.apply_orientation(_A, 9)


def test_jpeg_splice_preserves_decode_and_probe():
    arr = (np.arange(64, dtype=np.uint8).reshape(1, 8, 8) * 3 + 10)
    jpg = jpegk.encode_baseline(arr, quality=95)
    spliced = exifk.insert_exif_app1(jpg, exifk.build_tiff_exif(orientation=6))
    # the baseline decoder must skip the APP1 segment byte-identically
    assert np.array_equal(jpegk.decode_baseline(jpg), jpegk.decode_baseline(spliced))
    # the header-only probe still finds SOF after APP1
    info = codecs.probe_image_info(spliced)
    assert (info["width"], info["height"]) == (8, 8)
    assert exifk.parse_exif(spliced)["orientation"] == 6
    assert exifk.parse_exif(jpg) == {}


def test_with_exif_spark(spark):
    jpg = jpegk.encode_baseline(np.full((1, 8, 8), 100, np.uint8))
    tagged = exifk.insert_exif_app1(jpg, exifk.build_tiff_exif(
        orientation=8, make="SynthCam", model="M", gps=(48.8584, 2.2945),
        datetime_original="2020:01:02 03:04:05"))
    raw16 = codecs.encode_image(np.zeros((1, 4, 4), np.uint16))
    rows = [("a", bytearray(tagged)), ("b", bytearray(jpg)),
            ("c", bytearray(raw16)), ("d", None), ("e", b"garbage bytes")]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    from irivermetrics_spark.operators import multimodal

    got = {r.image_id: r for r in multimodal.with_exif(df).collect()}
    assert got["a"].orientation == 8 and got["a"].make == "SynthCam"
    assert got["a"].gps_lat == pytest.approx(48.8584, abs=1e-4)
    assert got["a"].gps_lon == pytest.approx(2.2945, abs=1e-4)
    assert got["a"].datetime_original == "2020:01:02 03:04:05"
    for k in "bcde":
        assert got[k].orientation is None and got[k].gps_lat is None


def test_resize_orient_restores_upright(spark):
    from irivermetrics_spark.operators import multimodal

    rng = np.random.default_rng(3)
    upright = (rng.integers(0, 8, (1, 12, 16)) * 32).astype(np.uint8)
    # camera stored the scene rotated 90 CCW and tagged orientation=6
    stored = np.ascontiguousarray(np.rot90(upright, 1, axes=(-2, -1)))
    jpg = jpegk.encode_baseline(stored, quality=95)
    tagged = exifk.insert_exif_app1(jpg, exifk.build_tiff_exif(orientation=6))
    df = spark.createDataFrame([("v", bytearray(tagged), "jpeg")],
                               "image_id string, bytes binary, fmt string")
    out = multimodal.resize_images(df, out_w=16, out_h=12, orient=True).first()
    assert (out.w, out.h) == (16, 12)
    dec = codecs.decode_image(bytes(out.bytes)).astype(np.float64)
    assert psnr(dec, upright.astype(np.float64), peak=255.0) > 30
    # without orient the stored (rotated) geometry comes back instead
    out2 = multimodal.resize_images(df, out_w=16, out_h=12, orient=False).first()
    dec2 = codecs.decode_image(bytes(out2.bytes)).astype(np.float64)
    assert psnr(dec2, upright.astype(np.float64), peak=255.0) < 20


def test_with_exif_hostile_types_dead_letter(spark):
    """r7 review find: a hostile APP1 can type any tag any way (e.g.
    orientation as ASCII) — with_exif must emit exif_error, never
    crash the Arrow conversion."""
    import struct as _s

    # IFD0 with orientation (274) mistyped as ASCII 'a'
    ifd = _s.pack("<H", 1)
    ifd += _s.pack("<HHI", 274, 2, 2) + b"a\x00\x00\x00"
    ifd += _s.pack("<I", 0)
    evil_tiff = b"II*\x00" + _s.pack("<I", 8) + ifd
    jpg = jpegk.encode_baseline(np.full((1, 8, 8), 50, np.uint8))
    evil = exifk.insert_exif_app1(jpg, evil_tiff)
    df = spark.createDataFrame([("e", bytearray(evil))],
                               "image_id string, bytes binary")
    from irivermetrics_spark.operators import multimodal

    row = multimodal.with_exif(df).collect()[0]
    assert row.orientation is None
    assert row.exif_error is not None and "orientation" in row.exif_error
    # resize(orient=True) must also survive the hostile tag
    df2 = df.withColumn("fmt", df.image_id * 0 + "jpeg") if False else \
        spark.createDataFrame([("e", bytearray(evil), "jpeg")],
                              "image_id string, bytes binary, fmt string")
    out = multimodal.resize_images(df2, out_w=8, out_h=8, orient=True).first()
    assert out.w == 8 and out.h == 8
