"""K1 per-date GeoTIFF mask sink + re-ingest (r4 VERDICT missing #1).

The reference's module 1 writes one LZW ``YYYY-MM-DD.tif`` water mask
per date (src/utils/wd_batch.py:584-588) and module 2 consumes that
directory. Pins: (a) the written file re-read through the GeoTIFF
kernel is bit-identical to the truth mask, (b) re-ingesting the tif
directory through calculate_metrics reproduces the point-table metrics
exactly, (c) AOI clip semantics — out-of-buffer pixels are nodata -1
in the file, like the reference's rio.clip-then-export."""

import os
import tempfile

import numpy as np
import pandas as pd

from irivermetrics_spark import api, synth
from irivermetrics_spark.kernels import geotiff
from irivermetrics_spark.plans import pipeline

from fixture_refs import river_lines


def _fx():
    fx = synth.make_fixture(w=80, h=40, n_dates=10, n_sections=3, seed=42)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    return fx, grid


def _metrics_pdf(res):
    pdf = res["metrics"].toPandas().sort_values(["scene", "section", "date"]).reset_index(drop=True)
    return pdf.drop(columns=["section_length_km"])


def test_date_mask_tif_roundtrip_and_reingest(spark):
    fx, grid = _fx()
    images = pipeline.images_df(spark, fx.images)
    direct = _metrics_pdf(pipeline.run(spark, images, fx.reaches, grid))

    outdir = tempfile.mkdtemp(prefix="k1_tifs_")
    api.waterdetect_batch(spark, images, grid=grid, reaches=fx.reaches,
                          export_tif=True, outdir=outdir)
    files = sorted(f for f in os.listdir(outdir) if f.endswith(".tif"))
    # single scene -> flat reference layout, one file per date
    assert len(files) == fx.masks.shape[1]
    assert all(len(f) == len("2018-01-01.tif") for f in files)

    # (a) bit-identical mask through the GeoTIFF kernel: the truth
    # mask from the fixture IS what decode recovers (codec invariants
    # are pinned elsewhere), so the file must reproduce it exactly
    for t, f in enumerate(files):
        with open(os.path.join(outdir, f), "rb") as fh:
            arr, g, nodata = geotiff.read_geotiff(fh.read())
        truth = fx.masks[0][t].astype(np.int16)
        assert arr.shape == (1, grid["h"], grid["w"])
        assert nodata == -1.0
        assert np.isclose(g["gx0"], grid["gx0"]) and np.isclose(g["ps"], grid["ps"])
        np.testing.assert_array_equal(arr[0], truth)

    # (b) module 2 re-ingests the tif directory — metrics identical
    via_tifs = _metrics_pdf(api.calculate_metrics(spark, outdir, fx.reaches, grid=grid))
    # scene name differs (directory-derived) by design; compare values
    key = ["section", "date"]
    a = via_tifs.drop(columns=["scene"]).sort_values(key).reset_index(drop=True)
    b = direct.drop(columns=["scene"]).sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_date_mask_tif_aoi_clip_semantics(spark):
    fx, grid = _fx()
    images = pipeline.images_df(spark, fx.images)
    lines = river_lines(fx)
    buffer_m = 6 * fx.pixel_size  # tight buffer: some pixels fall outside

    outdir = tempfile.mkdtemp(prefix="k1_tifs_aoi_")
    api.waterdetect_batch(spark, images, r_lines=lines, grid=grid, buffer=buffer_m,
                          reaches=fx.reaches, export_tif=True, outdir=outdir)
    files = sorted(f for f in os.listdir(outdir) if f.endswith(".tif"))
    assert files
    with open(os.path.join(outdir, files[0]), "rb") as fh:
        arr, _, _ = geotiff.read_geotiff(fh.read())
    mask = arr[0]
    from irivermetrics_spark.functions import geometry

    aoi_lines = [(np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64))
                 for x, y in api.normalize_lines(lines)]
    yy, xx = np.mgrid[0:grid["h"], 0:grid["w"]]
    cx = grid["gx0"] + (xx.ravel() + 0.5) * grid["ps"]
    cy = grid["gy0"] - (yy.ravel() + 0.5) * grid["ps"]
    outside = (geometry.min_dist_to_polylines(cx, cy, aoi_lines)
               > buffer_m).reshape(grid["h"], grid["w"])
    assert outside.any() and (~outside).any()
    # the reference clips then exports: everything out of buffer is -1
    assert (mask[outside] == -1).all()
    # inside the buffer the truth mask survives untouched
    np.testing.assert_array_equal(mask[~outside], fx.masks[0][0].astype(np.int16)[~outside])


def test_multi_scene_tifs_get_scene_dirs(spark):
    fx, grid = _fx()
    fx2 = synth.make_fixture(w=80, h=40, n_dates=4, n_sections=3, seed=42, n_scenes=2)
    images = pipeline.images_df(spark, fx2.images)
    outdir = tempfile.mkdtemp(prefix="k1_tifs_multi_")
    api.waterdetect_batch(spark, images, grid=grid, reaches=fx2.reaches,
                          export_tif=True, outdir=outdir)
    subdirs = sorted(d for d in os.listdir(outdir)
                     if os.path.isdir(os.path.join(outdir, d)))
    assert len(subdirs) == 2
    for d in subdirs:
        tifs = [f for f in os.listdir(os.path.join(outdir, d)) if f.endswith(".tif")]
        assert len(tifs) == 4


def test_multi_scene_tif_dir_reingests(spark):
    """r5 review: the multi-scene outdir/SCENE/DATE.tif layout must
    re-ingest through calculate_metrics (recursive binaryFile lookup +
    one-level directory probe)."""
    fx2 = synth.make_fixture(w=80, h=40, n_dates=4, n_sections=3, seed=42, n_scenes=2)
    grid = dict(gx0=fx2.gx0, gy0=fx2.gy0, ps=fx2.pixel_size, w=fx2.w, h=fx2.h)
    images = pipeline.images_df(spark, fx2.images)
    direct = _metrics_pdf(pipeline.run(spark, images, fx2.reaches, grid))

    outdir = tempfile.mkdtemp(prefix="k1_tifs_multi_re_")
    api.waterdetect_batch(spark, images, grid=grid, reaches=fx2.reaches,
                          export_tif=True, outdir=outdir)
    via = _metrics_pdf(api.calculate_metrics(spark, outdir, fx2.reaches, grid=grid))
    # scene ids differ (directory-derived) but the per-scene metric
    # values must match; both fixtures' scenes share dates/sections, so
    # compare per (scene-sorted group, section, date)
    assert len(via) == len(direct)
    key = ["section", "date"]
    for (_, a), (_, b) in zip(sorted(via.groupby("scene"), key=lambda kv: kv[0]),
                              sorted(direct.groupby("scene"), key=lambda kv: kv[0])):
        pd.testing.assert_frame_equal(
            a.drop(columns=["scene"]).sort_values(key).reset_index(drop=True),
            b.drop(columns=["scene"]).sort_values(key).reset_index(drop=True))


def test_path_dispatch_uri_and_case():
    """r5 review: URI-schemed paths keep the .nc entry contract (no
    local probe possible); explicit extensions always win."""
    from irivermetrics_spark.api import _path_is_tif_masks

    assert _path_is_tif_masks("s3a://bucket/masks/") is False
    assert _path_is_tif_masks("hdfs://nn/masks") is False
    assert _path_is_tif_masks("s3a://bucket/masks/2020-01-01.tif") is True
    assert _path_is_tif_masks("s3a://bucket/cube.nc") is False
    assert _path_is_tif_masks("/any/where/MASK.TIF") is True
