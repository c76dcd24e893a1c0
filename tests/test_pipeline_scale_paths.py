"""r3 pipeline hardening: the aoi clip must flow through the DECODE
path (ADVICE r2 — image-table + r_lines previously clipped only in the
offset, double-counting out-of-AOI nodata and leaking out-of-AOI
pixels), mixed summary tables must be rejected, and the distributed
fill time axis must reproduce the driver-map results exactly."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from irivermetrics_spark import api, synth
from irivermetrics_spark.plans import pipeline
from tests.conftest import kept_map


def _fx():
    fx = synth.make_fixture(w=60, h=30, n_dates=6, n_sections=2, seed=21)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    return fx, grid


def test_aoi_image_path_equals_two_module_path(spark):
    """calculate_metrics(da_wmask=<image table>, r_lines=...) must equal
    waterdetect_batch(r_lines=...) -> calculate_metrics(r_lines=...):
    same kept dates, same metric rows (the decode path now applies the
    aoi clip itself instead of only the constant offset)."""
    fx, grid = _fx()
    lines = synth.river_lines(fx)
    buffer_m = 6 * fx.pixel_size
    images = pipeline.images_df(spark, fx.images)

    masks = api.waterdetect_batch(spark, images, r_lines=lines, grid=grid,
                                  buffer=buffer_m, reaches=fx.reaches)
    res_two = api.calculate_metrics(spark, masks, fx.reaches, grid=grid,
                                    r_lines=lines, buffer=buffer_m)
    res_one = api.calculate_metrics(spark, images, fx.reaches, grid=grid,
                                    r_lines=lines, buffer=buffer_m)

    assert kept_map(res_one) == kept_map(res_two)
    cols = ["scene", "date", "section", "npools", "wet_area_km2", "AWMSI"]
    a = res_one["metrics"].toPandas()[cols].sort_values(["date", "section"]).reset_index(drop=True)
    b = res_two["metrics"].toPandas()[cols].sort_values(["date", "section"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=False, rtol=1e-9)
    # the clip really dropped out-of-AOI water points from the one-shot
    # decode too (not just the offset): no water pixel outside the AOI
    import numpy as np

    from irivermetrics_spark.functions import geometry

    wj = res_one["water_joined"].select("px", "py").distinct().toPandas()
    cx = fx.px_x(wj.px.to_numpy())
    cy = fx.px_y(wj.py.to_numpy())
    lx, ly = lines[0]["x"], lines[0]["y"]
    d = geometry.min_dist_to_polylines(cx, cy, [(np.asarray(lx), np.asarray(ly))])
    assert (d <= buffer_m + 1e-9).all()


def test_mixed_summary_table_rejected(spark):
    """A mask table unioning counted and presence-only summary rows must
    raise (the fused F6 path would silently treat presence-only dates
    as zero-invalid; ADVICE r2)."""
    fx, grid = _fx()
    images = pipeline.images_df(spark, fx.images)
    with_counts = api.waterdetect_batch(spark, images, grid=grid, reaches=fx.reaches)
    without = api.waterdetect_batch(spark, images, grid=grid)
    # disambiguate image ids so both runs' rows coexist
    shifted = without.withColumn("image_id", F.concat(F.lit("b_"), "image_id"))
    mixed = with_counts.unionByName(shifted)
    with pytest.raises(ValueError, match="mixed mask table"):
        api.calculate_metrics(spark, mixed, fx.reaches, grid=grid)
