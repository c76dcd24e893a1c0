"""The module-2 morphology stage on Spark: typed empty group frames, the
metrics CSV sink's directory and no type-hint warnings on the grouped-map
kernels."""

import os
import warnings

import pandas as pd
import pytest

from irivermetrics_spark import api, synth
from irivermetrics_spark.operators import exports, morphology
from irivermetrics_spark.plans import pipeline

# 10 x 10 grid of 10 m pixels; pixel centers sit at 5, 15, ..., 95
GRID = dict(gx0=0.0, gy0=100.0, ps=10.0, w=10, h=10)
WHOLE = dict(section="whole", xmin=0.0, xmax=100.0, ymin=0.0, ymax=100.0)


def _water(spark, section, pixels):
    return spark.createDataFrame(
        pd.DataFrame({"scene": "s0", "ds": "2020-01-01", "section": section,
                      "px": [p[0] for p in pixels], "py": [p[1] for p in pixels]}),
        "scene string, ds string, section string, px int, py int")


@pytest.fixture(scope="module")
def mask_table(spark, tmp_path_factory):
    fx = synth.make_fixture(w=60, h=30, n_dates=6, n_sections=3, n_scenes=2, seed=11)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    path = str(tmp_path_factory.mktemp("morph") / "mask_table")
    api.waterdetect_batch(spark, pipeline.images_df(spark, fx.images), grid=grid,
                          reaches=fx.reaches, mask_path=path)
    return fx, grid, path


def test_degenerate_reach_yields_no_pool_rows(spark):
    # the bbox lies between two pixel-center columns: an empty clip, so
    # the section kernel emits neither pool nor persistence rows
    thin = dict(section="thin", ring_x=[6.0, 14.0, 14.0, 6.0, 6.0],
                ring_y=[0.0, 0.0, 100.0, 100.0, 0.0], xmin=6.0, xmax=14.0, ymin=0.0, ymax=100.0)
    assert morphology.clip_offsets([thin], GRID)["thin"] == (0, 0, 0, 0)
    water = _water(spark, "thin", [(0, 3), (1, 3), (1, 4)]).selectExpr("*", "1L AS n_kept")
    assert morphology.section_rows(water, [thin], GRID).collect() == []


def test_pools_below_min_size_yield_no_polygons(spark):
    water = _water(spark, "whole", [(1, 1), (5, 5), (8, 2)])  # three 1-px pools
    assert exports.pool_polygons(water, [WHOLE], GRID, min_pool_size=2).collect() == []


def test_calculate_metrics_exports_when_no_pool_is_kept(spark, mask_table, tmp_path):
    fx, grid, path = mask_table
    outdir = str(tmp_path / "new" / "out")  # does not exist yet
    res = api.calculate_metrics(spark, spark.read.parquet(path), fx.reaches, grid=grid,
                                min_pool_size=10**6, export_shp=True, outdir=outdir)
    assert res["polygons"].count() == 0
    assert os.path.isfile(os.path.join(outdir, "irm_metrics.csv"))
    assert os.path.isfile(os.path.join(outdir, "irm_Polygons.shp"))


def test_write_metrics_csv_creates_its_directory(spark, tmp_path):
    path = tmp_path / "a" / "b" / "irm_metrics.csv"
    exports.write_metrics_csv(spark.createDataFrame([(1, "x")], "n int, s string"), str(path))
    assert pd.read_csv(path, index_col=0).to_dict("list") == {"n": [1], "s": ["x"]}


def test_module2_plan_emits_no_type_hint_warning(spark, mask_table, tmp_path):
    fx, grid, path = mask_table
    points = spark.read.parquet(path)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        res = api.calculate_metrics(spark, points, fx.reaches, grid=grid, export_shp=True)
        exports.write_persistence_geotiffs(res["persistence_px"], grid, str(tmp_path), flat=False)
        exports.write_date_mask_geotiffs(points, grid, str(tmp_path), flat=False)
    hinted = [w for w in caught if "Cannot infer the eval type" in str(w.message)]
    assert hinted == []

