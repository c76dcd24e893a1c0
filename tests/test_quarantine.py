"""Format-sniffing quarantine router (r5 VERDICT missing #1 / ask #5):
lossy-VP8 webp and other undecodable payloads must be DIVERTED — never
fail a batch task."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from irivermetrics_spark import codecs, synth
from irivermetrics_spark.operators import decode, multimodal
from irivermetrics_spark.plans import pipeline


def _lossy_vp8_bytes() -> bytes:
    # a structurally valid RIFF/WEBP header with a lossy 'VP8 ' chunk
    payload = b"\x00" * 32
    chunk = b"VP8 " + len(payload).to_bytes(4, "little") + payload
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def test_sniff_format_magic_bytes():
    from irivermetrics_spark.kernels import webp

    s = codecs.sniff_format
    assert s(_lossy_vp8_bytes()) == "webp-vp8"
    planes = np.full((4, 4, 4), 9, dtype=np.uint8)
    planes[0] = 255
    assert s(webp.encode_vp8l(planes)) == "webp-vp8l"
    assert s(b"RIFF\x00\x00\x00\x00WEBPVP8X____") == "webp-vp8x"
    # VP8X flags byte (offset 20): animation bit diverts, still decodes
    assert s(b"RIFF\x00\x00\x00\x00WEBPVP8X\x0a\x00\x00\x00\x12") == "webp-vp8x-anim"
    assert s(b"RIFF\x00\x00\x00\x00WEBPVP8X\x0a\x00\x00\x00\x10") == "webp-vp8x"
    fixture = os.path.join(os.path.dirname(__file__), "data", "vp8_python.webp")
    assert s(open(fixture, "rb").read(21)) == "webp-vp8x"
    arr = np.ones((4, 3, 5), dtype=np.uint16)
    assert s(codecs.encode_image(arr)) == codecs.FMT_RAW16
    assert s(codecs.encode_image(arr, codecs.FMT_QLOSSY)) == codecs.FMT_QLOSSY
    assert s(b"\xff\xd8\xff\xe0junk") == "jpeg"
    assert s(b"\x89PNG\r\n\x1a\njunk") == "png"
    assert s(b"II*\x00rest") == "tiff" and s(b"MM\x00*rest") == "tiff"
    assert s(b"GIF89a;;;") == "gif"
    assert s(b"CDF\x01data") == "netcdf3"
    assert s(b"total garbage") == "unknown"
    assert s(b"") == "unknown"
    # decodability routing: both webp flavours in since r6 (kernels/vp8),
    # animations too (kernels/webpanim), gif/bmp since late r6 — audio
    # and garbage stay diverted
    assert "webp-vp8l" in codecs.DECODABLE_DETAILS
    assert "webp-vp8" in codecs.DECODABLE_DETAILS
    assert "webp-vp8x" in codecs.DECODABLE_DETAILS
    assert "webp-vp8x-anim" in codecs.DECODABLE_DETAILS
    assert "gif" in codecs.DECODABLE_DETAILS
    assert "bmp" in codecs.DECODABLE_DETAILS
    assert "wav" not in codecs.DECODABLE_DETAILS
    assert "unknown" not in codecs.DECODABLE_DETAILS


def test_with_format_detail_column(spark):
    rows = [
        ("a", codecs.encode_image(np.ones((4, 3, 3), dtype=np.uint16)), "raw16"),
        ("b", _lossy_vp8_bytes(), "webp"),
        ("c", b"junkjunkjunkjunk", "???"),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r["image_id"]: (r["fmt_detail"], r["decodable"])
           for r in multimodal.with_format_detail(df).collect()}
    # the sniff is a header peek: the structurally-broken vp8 stub is
    # CLAIMED decodable (its subformat is), and the decode stage's
    # exception catch is what actually quarantines it (tests below)
    assert got == {"a": ("raw16", True), "b": ("webp-vp8", True),
                   "c": ("unknown", False)}


def _mixed_images(fx, n_good=3):
    pdf = fx.images.iloc[:n_good].copy()
    bad = pd.DataFrame([
        dict(image_id="scene0_2099-01-01_bad1", bytes=_lossy_vp8_bytes(),
             w=fx.w, h=fx.h, fmt="webp", caption="lossy vp8", phash=0),
        dict(image_id="scene0_2099-01-02_bad2", bytes=b"corrupt" * 3,
             w=fx.w, h=fx.h, fmt="raw16", caption="garbage", phash=0),
    ])
    cols = list(pdf.columns)
    return pd.concat([pdf, bad[cols]], ignore_index=True)


def test_batch_decode_quarantine_vs_raise(spark):
    fx = synth.make_fixture(w=40, h=20, n_dates=4, n_sections=2, seed=5)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    mixed = pipeline.images_df(spark, _mixed_images(fx))

    # default contract: loud failure
    with pytest.raises(Exception):
        decode.decode_points(mixed, grid).count()

    pts = decode.decode_points(mixed, grid, on_undecodable="quarantine")
    bad = pts.where(F.col("value") == decode.QUARANTINE_MARKER).toPandas()
    assert sorted(bad.image_id) == ["scene0_2099-01-01_bad1", "scene0_2099-01-02_bad2"]
    assert (bad.px == -1).all() and (bad.value == decode.QUARANTINE_MARKER).all()
    # date/scene parse still applies to quarantine rows (dead-letter keys)
    assert str(bad.sort_values("image_id").date.iloc[0]) == "2099-01-01"

    # the clean side equals a plain decode of only the good rows
    good_only = pipeline.images_df(spark, fx.images.iloc[:3])
    key = ["image_id", "px", "py", "value", "cell"]
    got = (pts.where(F.col("value") != decode.QUARANTINE_MARKER).select(*key).toPandas()
           .sort_values(key).reset_index(drop=True))
    want = decode.decode_points(good_only, grid).select(*key).toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)

    # and the flagship accepts the quarantined table (rows just drop)
    res = pipeline.run(spark, None, fx.reaches, grid, points=pts)
    assert res["metrics"].count() > 0


def test_resize_and_embed_quarantine(spark):
    fx = synth.make_fixture(w=24, h=12, n_dates=2, n_sections=1, seed=7)
    mixed = pipeline.images_df(spark, _mixed_images(fx, n_good=2))

    with pytest.raises(Exception):
        multimodal.resize_images(mixed, 6, 4).count()
    out = multimodal.resize_images(mixed, 6, 4, on_error="quarantine").toPandas()
    errs = out[out.error.notna()].sort_values("image_id")
    assert list(errs.image_id) == ["scene0_2099-01-01_bad1", "scene0_2099-01-02_bad2"]
    assert errs.bytes.isna().all()
    assert errs.fmt.tolist() == ["webp-vp8", "unknown"]  # sniffed subformat
    ok = out[out.error.isna()]
    assert len(ok) == 2 and set(ok.fmt) == {codecs.FMT_RAW16}
    # caption passthrough still intact on both sides
    assert set(out.columns) >= {"caption", "error"}

    emb = multimodal.embed_images(mixed, on_error="quarantine").toPandas()
    assert sorted(emb.image_id) == sorted(ok.image_id)  # bad rows absent


def test_quarantine_handles_null_payload_and_config_typo(spark):
    import pyspark.sql.types as T

    fx = synth.make_fixture(w=24, h=12, n_dates=2, n_sections=1, seed=8)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    pdf = _mixed_images(fx, n_good=1)
    pdf.loc[len(pdf)] = dict(image_id="scene0_2099-01-03_null", bytes=None,
                             w=fx.w, h=fx.h, fmt="raw16", caption="", phash=0)
    schema = T.StructType([
        T.StructField("image_id", T.StringType()), T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()), T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()), T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType())])
    mixed = spark.createDataFrame(pdf, schema)

    # a NULL payload must reach the quarantine frame, not crash the handler
    out = multimodal.resize_images(mixed, 6, 4, on_error="quarantine").toPandas()
    errs = out[out.error.notna()]
    assert "scene0_2099-01-03_null" in set(errs.image_id)
    assert set(errs[errs.image_id == "scene0_2099-01-03_null"].fmt) == {"unknown"}
    pts = decode.decode_points(mixed, grid, on_undecodable="quarantine")
    assert pts.where(F.col("value") == decode.QUARANTINE_MARKER).count() == 3  # vp8, garbage, null

    # config typos must fail LOUDLY even in quarantine mode (a kernel-side
    # catch would quarantine 100% of rows and "succeed" empty)
    with pytest.raises(ValueError, match="water_rule"):
        decode.decode_points(mixed, grid, water_rule="cluser",
                             on_undecodable="quarantine")
