"""Every entry form of module 2 runs one kept-date path: an image table
with no sink, with a ``mask_path`` sink, with a ``checkpoint_dir``
lineage stage, and a module-1 mask table handed to
``api.calculate_metrics`` give the same outputs, with and without the
module-1 AOI clip, and no call leaves a thread running."""

import threading

import pytest

from irivermetrics_spark import api, synth
from irivermetrics_spark.plans import pipeline

KEYS = ("metrics", "pools", "persistence_px", "kept")


@pytest.fixture(scope="module")
def scenes(spark):
    fx = synth.make_fixture(w=60, h=30, n_dates=6, n_sections=2, n_scenes=2, seed=23)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    images = pipeline.images_df(spark, fx.images).persist()
    # a river line across the middle; the buffer clips enough corridor
    # pixels that the out-of-AOI offset drops kept dates
    ymid = fx.gy0 - fx.h * fx.pixel_size / 2
    lines = [dict(x=[fx.gx0, fx.gx0 + fx.w * fx.pixel_size], y=[ymid, ymid])]
    yield fx, grid, images, lines, fx.h * fx.pixel_size / 4
    images.unpersist()


def _forms(spark, scenes, tmp_path, clip):
    fx, grid, images, lines, buffer = scenes
    aoi = dict(aoi=(api.normalize_lines(lines), buffer)) if clip else {}
    r_lines = dict(r_lines=lines, buffer=buffer) if clip else {}
    yield "images", lambda: pipeline.run(spark, images, fx.reaches, grid, **aoi)
    yield "mask_path", lambda: pipeline.run(spark, images, fx.reaches, grid,
                                            mask_path=str(tmp_path / "mask"), **aoi)
    yield "checkpoint_dir", lambda: pipeline.run(spark, images, fx.reaches, grid,
                                                 checkpoint_dir=str(tmp_path / "ckpt"), **aoi)

    def mask_table():
        masks = api.waterdetect_batch(spark, images, grid=grid, reaches=fx.reaches,
                                      mask_path=str(tmp_path / "module1"), **r_lines)
        return api.calculate_metrics(spark, masks, fx.reaches, grid=grid, **r_lines)

    yield "mask table", mask_table


@pytest.mark.parametrize("clip", [False, True], ids=["full", "aoi_clip"])
def test_entry_forms_agree(spark, scenes, tmp_path, clip):
    results = {}
    for name, run in _forms(spark, scenes, tmp_path, clip):
        before = set(threading.enumerate())
        results[name] = run()
        assert not set(threading.enumerate()) - before, name
    ref = results.pop("images")
    assert ref["kept"].count() > 0 and ref["pools"].count() > 0
    for name, res in results.items():
        for key in KEYS:
            a, b = ref[key], res[key]
            assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, (name, key)
    if clip:
        # the clip's out-of-AOI offset reached the shared kept path
        full = pipeline.run(spark, scenes[2], scenes[0].reaches, scenes[1])
        assert ref["kept"].count() < full["kept"].count()
