"""filled_water's in-kernel cell key must be bit-identical to the
separate hex_cell_udf stage it replaced (r8 — removes an ArrowEvalPython
round-trip of the whole water table from the flagship metrics job)."""

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from irivermetrics_spark import synth
from irivermetrics_spark.functions import geometry
from irivermetrics_spark.operators import decode, fillop
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
    out = fillop.filled_water(points_kept, fx.reaches, grid)
    assert [f.simpleString() for f in out.schema.fields] == [
        "scene:string", "ds:string", "px:int", "py:int", "cell:bigint", "n_kept:bigint"]
    # the kernel's cell equals the UDF applied to the same rows' px/py
    udf_cell = fillop.hex_cell_udf(decode.CELL_RES, grid)("px", "py")
    checked = out.select("cell", udf_cell.alias("udf_cell")).persist()
    assert checked.count() > 0
    assert checked.where("cell <> udf_cell").count() == 0
    checked.unpersist()


def test_out_cell_res_rows_carry_the_scene_axis_length(fill_inputs):
    """n_kept is the scene's kept-date count: the section kernel's
    persistence denominator, with no second join to the kept dates."""
    fx, grid, points_kept = fill_inputs
    out = fillop.filled_water(points_kept, fx.reaches, grid)
    got = {tuple(r) for r in out.select("scene", "n_kept").distinct().collect()}
    want = {tuple(r) for r in points_kept.select("scene", "n_t").distinct().collect()}
    assert got == want and len(got) > 0


def test_rings_digest_follows_in_place_edits():
    rings = [(np.array([0.0, 1.0, 1.0]), np.array([0.0, 0.0, 1.0]))]
    before = geometry.coords_digest(rings)
    rings[0][0][1] = 2.0
    assert geometry.coords_digest(rings) != before
