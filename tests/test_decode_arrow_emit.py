"""Edge paths of the mapInArrow decode emit (r8): null ids in the
dictionary-encoded text columns, empty input partitions, and dtype
exactness.

The main-path bit-parity with the previous mapInPandas kernel was
proven at bench scale (7,461,145 rows, exceptAll 0 both directions,
schema equal — see OPTIMIZATION_r08.md); these tests pin the branches
that proof could not reach."""

import datetime

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from irivermetrics_spark import synth
from irivermetrics_spark.operators import decode
from irivermetrics_spark.plans import pipeline


def _grid_images(spark, n_dates=2):
    fx = synth.make_fixture(w=40, h=20, n_dates=n_dates, n_sections=2, seed=13)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"])) for r in fx.reaches]
    return fx, grid, rings


def test_null_image_id_quarantines_with_null_scene_date(spark):
    """A null id + undecodable payload must emit one quarantine row with
    NULL image_id/scene/date (a null dictionary index, decoded to a
    null string), not kill the task."""
    fx, grid, rings = _grid_images(spark)
    pdf = fx.images.head(3).copy()
    n_clean = len(pdf)
    schema = T.StructType([
        T.StructField("image_id", T.StringType(), True),
        T.StructField("bytes", T.BinaryType(), True),
    ])
    rows = [(None, None)] + [
        (r.image_id, bytes(r.bytes)) for r in pdf.itertuples(index=False)]
    images = spark.createDataFrame(rows, schema)
    pts = decode.decode_points(images, grid, res=9, corridor_rings=rings,
                               on_undecodable="quarantine")
    bad = decode.quarantined(pts).toPandas()
    assert len(bad) == 1
    assert bad.image_id.iloc[0] is None
    assert bad.scene.iloc[0] is None
    assert pd.isna(bad.date.iloc[0])
    # the clean images still decode normally alongside the null row
    good = decode.drop_quarantined(pts)
    assert good.filter("value = %d" % decode.SUMMARY_MARKER).count() == n_clean


def test_empty_images_yields_empty_frame_with_schema(spark):
    """Zero input rows: the kernel yields no batches; the result is an
    empty frame with the full dated schema (POINTS_DATED_SCHEMA)."""
    fx, grid, rings = _grid_images(spark)
    schema = T.StructType([
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
    ])
    images = spark.createDataFrame([], schema)
    pts = decode.decode_points(images, grid, res=9, corridor_rings=rings)
    assert pts.columns == ["image_id", "px", "py", "value", "cell", "date", "scene"]
    assert pts.count() == 0


def test_point_dtypes_and_date_exactness(spark):
    """The Arrow-built columns carry the exact contract types and the
    day-ordinal date math equals datetime parsing row-for-row."""
    fx, grid, rings = _grid_images(spark, n_dates=3)
    images = pipeline.images_df(spark, fx.images)
    pts = decode.decode_points(images, grid, res=9, corridor_rings=rings)
    assert dict(pts.dtypes) == {
        "image_id": "string", "px": "int", "py": "int",
        "value": "tinyint", "cell": "bigint", "date": "date",
        "scene": "string"}
    got = pts.select("image_id", "date", "scene").distinct().collect()
    assert len(got) > 0
    for r in got:
        scene, date = decode._scene_date_py(r["image_id"])
        assert r["scene"] == scene
        assert r["date"] == date
        assert isinstance(r["date"], datetime.date)


def test_year_9999_date_survives_day_ordinal_path(spark):
    """Extreme-but-valid dates (date32 far range) round-trip through the
    vectorized day-int path."""
    fx, grid, rings = _grid_images(spark)
    pdf = fx.images.head(1).copy()
    pdf["image_id"] = ["scene0_9999-12-31.tif"]
    images = pipeline.images_df(spark, pdf)
    pts = decode.decode_points(images, grid, res=9, corridor_rings=rings)
    dates = [r["date"] for r in pts.select("date").distinct().collect()]
    assert dates == [datetime.date(9999, 12, 31)]
