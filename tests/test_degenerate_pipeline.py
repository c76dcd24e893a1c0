"""Degenerate pipeline inputs must produce empty-but-well-formed output,
not crashes: all dates failing the validity gate, and all-dry scenes."""

import numpy as np

from irivermetrics_spark import codecs, synth
from irivermetrics_spark.plans import pipeline
from tests.conftest import kept_map


def _encode_all(fx, masks):
    rng = np.random.default_rng(7)
    pdf = fx.images.copy()
    for i in range(len(pdf)):
        bands = synth.bands_for_mask(masks[i], rng)
        pdf.loc[pdf.index[i], "bytes"] = codecs.encode_image(bands)
        pdf.loc[pdf.index[i], "phash"] = codecs.phash64(bands)
    return pdf


def test_all_dates_fail_validity(spark):
    """Every date fully cloudy -> kept set empty -> empty (schema-stable)
    metrics, no crash anywhere in the plan."""
    fx = synth.make_fixture(w=40, h=20, n_dates=3, n_sections=2, seed=5)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    masks = np.full((len(fx.dates), fx.h, fx.w), -1, dtype=np.int8)  # all nodata
    images = pipeline.images_df(spark, _encode_all(fx, masks))
    res = pipeline.run(spark, images, fx.reaches, grid)
    assert kept_map(res) == {}
    m = res["metrics"].toPandas()
    assert len(m) == 0
    assert "npools" in m.columns  # schema survives empty input
    assert res["polygons"].count() == 0
    assert res["persistence_px"].count() == 0


def test_all_dry_scene_produces_zero_branch(spark):
    """Valid but dry everywhere -> every date kept, every metric row is
    the reference's zero branch."""
    fx = synth.make_fixture(w=40, h=20, n_dates=3, n_sections=2, seed=6)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    masks = np.zeros((len(fx.dates), fx.h, fx.w), dtype=np.int8)  # all dry, all valid
    images = pipeline.images_df(spark, _encode_all(fx, masks))
    res = pipeline.run(spark, images, fx.reaches, grid)
    assert len(kept_map(res)["scene0"]) == len(fx.dates)
    m = res["metrics"].toPandas()
    assert len(m) == len(fx.dates) * len(fx.reaches)
    assert (m.npools == 0).all() and (m.wet_area_km2 == 0).all()
    assert (m.AWMSI == 0).all()
