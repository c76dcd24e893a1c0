"""S2 affine reprojection: resample kernel exactness + PSNR gate +
mixed-resolution decode parity (src/utils/wd_batch.py:329-373)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from irivermetrics_spark import codecs, synth
from irivermetrics_spark.kernels import resample
from irivermetrics_spark.operators import decode

from fixture_codecs import psnr


def test_resample_identity_shortcircuit():
    arr = np.arange(2 * 4 * 6, dtype=np.uint16).reshape(2, 4, 6)
    g = dict(gx0=0.0, gy0=100.0, ps=10.0, w=6, h=4)
    assert resample.resample(arr, g, g) is arr


def test_nearest_inverts_block_replication():
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 20000, (4, 12, 18)).astype(np.uint16)
    fine = np.repeat(np.repeat(arr, 2, axis=1), 2, axis=2)
    dst = dict(gx0=500.0, gy0=9000.0, ps=30.0, w=18, h=12)
    src = dict(gx0=500.0, gy0=9000.0, ps=15.0, w=36, h=24)
    back = resample.resample_nearest(fine, src, dst)
    np.testing.assert_array_equal(back, arr)


def test_nearest_out_of_coverage_is_nodata():
    arr = np.full((4, 4, 4), 7, dtype=np.uint16)
    src = dict(gx0=0.0, gy0=40.0, ps=10.0, w=4, h=4)
    dst = dict(gx0=-20.0, gy0=60.0, ps=10.0, w=8, h=8)  # src sits inside
    out = resample.resample_nearest(arr, src, dst)
    assert out.shape == (4, 8, 8)
    assert (out[:, 2:6, 2:6] == 7).all()
    assert out[:, 0, 0] == pytest.approx(0) and out[:, -1, -1] == pytest.approx(0)


def test_bilinear_psnr_gate():
    """Resampling a band-limited field must stay >= 40 dB of the
    analytic truth (the north-rule lossy-decode criterion)."""
    def field(x, y):
        return 9000 + 4000 * np.sin(x / 120.0) * np.cos(y / 150.0)

    src = dict(gx0=0.0, gy0=3000.0, ps=5.0, w=400, h=400)
    xs = src["gx0"] + (np.arange(src["w"]) + 0.5) * src["ps"]
    ys = src["gy0"] - (np.arange(src["h"]) + 0.5) * src["ps"]
    fine = field(xs[None, :], ys[:, None])[None, :, :].astype(np.float64)

    dst = dict(gx0=100.0, gy0=2900.0, ps=8.0, w=200, h=200)
    got = resample.resample_bilinear(fine, src, dst)
    dx = dst["gx0"] + (np.arange(dst["w"]) + 0.5) * dst["ps"]
    dy = dst["gy0"] - (np.arange(dst["h"]) + 0.5) * dst["ps"]
    truth = field(dx[None, :], dy[:, None])[None, :, :]
    assert psnr(got, truth) >= 40.0


def test_nonuniform_grid_rejected_in_kernel(spark):
    """Without reproject=True, a mis-shaped raster fails the map-side
    S1 assert (the driver-side distinct() barrier is gone)."""
    fx = synth.make_fixture(w=40, h=20, n_dates=2, n_sections=1, seed=3)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    rng = np.random.default_rng(2)
    bad = codecs.encode_image(rng.integers(0, 20000, (4, 10, 40)).astype(np.uint16))
    pdf = fx.images.copy()
    pdf.loc[0, "bytes"] = bad
    from irivermetrics_spark.plans import pipeline
    pts = decode.decode_points(pipeline.images_df(spark, pdf), grid)
    with pytest.raises(Exception, match="uniform-grid"):
        pts.count()


def test_mixed_resolution_decode_parity(spark):
    """A table mixing native-grid scenes with 2x-finer scenes (decode ->
    block-replicated bands at ps/2) must produce byte-identical mask
    points once reproject=True resamples everything to the target grid."""
    fx = synth.make_fixture(w=60, h=30, n_dates=6, n_sections=2, seed=11)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)

    rows = []
    for i, rec in fx.images.iterrows():
        arr = codecs.decode_image(bytes(rec["bytes"]))
        if i % 2 == 0:  # half the scenes arrive at 2x resolution
            fine = np.repeat(np.repeat(arr, 2, axis=1), 2, axis=2)
            rows.append(dict(image_id=rec.image_id, bytes=codecs.encode_image(fine),
                             gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size / 2))
        else:
            rows.append(dict(image_id=rec.image_id, bytes=codecs.encode_image(arr),
                             gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size))
    schema = T.StructType([
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("gx0", T.DoubleType(), False),
        T.StructField("gy0", T.DoubleType(), False),
        T.StructField("ps", T.DoubleType(), False),
    ])
    mixed = spark.createDataFrame(pd.DataFrame(rows), schema)

    from irivermetrics_spark.plans import pipeline
    native = decode.decode_points(pipeline.images_df(spark, fx.images), grid)
    reproj = decode.decode_points(mixed, grid, reproject=True)

    key = ["image_id", "px", "py", "value", "cell"]
    a = native.select(key).toPandas().sort_values(key).reset_index(drop=True)
    b = reproj.select(key).toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
