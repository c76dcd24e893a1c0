"""filled_water(out_cell_res=...) parity: the in-kernel cell key must be
bit-identical to the old separate hex_cell_udf stage (r8 — removes an
ArrowEvalPython round-trip of the whole water table from the flagship
metrics job)."""

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from irivermetrics_spark import synth
from irivermetrics_spark.functions import geometry
from irivermetrics_spark.operators import fillop
from irivermetrics_spark.plans import pipeline


@pytest.fixture(scope="module")
def fill_inputs(spark):
    fx = synth.make_fixture(w=80, h=40, n_dates=12, n_sections=3, seed=42)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    res = pipeline.run(spark, pipeline.images_df(spark, fx.images), fx.reaches, grid)
    kept = res["kept"]
    kept_idx = kept.select(
        "scene", "date",
        (F.row_number().over(Window.partitionBy("scene").orderBy("date")) - 1).alias("t_idx"),
        F.count("*").over(Window.partitionBy("scene")).alias("n_t"),
    )
    points_kept = res["mask_points"].join(F.broadcast(kept_idx), ["scene", "date"])
    return fx, grid, points_kept


def test_out_cell_res_matches_udf_stage(fill_inputs):
    fx, grid, points_kept = fill_inputs
    old = fillop.filled_water(points_kept, fx.reaches, grid) \
        .withColumn("cell", fillop.hex_cell_udf(9, grid)("px", "py"))
    new = fillop.filled_water(points_kept, fx.reaches, grid, out_cell_res=9)
    assert [f.simpleString() for f in new.schema.fields] == [
        "scene:string", "ds:string", "px:int", "py:int", "cell:bigint", "n_kept:bigint"]
    new_cells = new.drop("n_kept")
    assert old.schema == new_cells.schema
    assert new_cells.exceptAll(old).count() == 0
    assert old.exceptAll(new_cells).count() == 0
    assert new.count() > 0


def test_out_cell_res_rows_carry_the_scene_axis_length(fill_inputs):
    """n_kept is the scene's kept-date count: the section kernel's
    persistence denominator, with no second join to the kept dates."""
    fx, grid, points_kept = fill_inputs
    new = fillop.filled_water(points_kept, fx.reaches, grid, out_cell_res=9)
    got = {tuple(r) for r in new.select("scene", "n_kept").distinct().collect()}
    want = {tuple(r) for r in points_kept.select("scene", "n_t").distinct().collect()}
    assert got == want and len(got) > 0


def test_default_output_has_no_cell(fill_inputs):
    fx, grid, points_kept = fill_inputs
    out = fillop.filled_water(points_kept, fx.reaches, grid)
    assert out.columns == ["scene", "ds", "px", "py"]


def test_rings_digest_follows_in_place_edits():
    rings = [(np.array([0.0, 1.0, 1.0]), np.array([0.0, 0.0, 1.0]))]
    before = geometry.coords_digest(rings)
    rings[0][0][1] = 2.0
    assert geometry.coords_digest(rings) != before
