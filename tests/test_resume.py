"""North-rule resumability: a rerun with the same checkpoint dir skips
completed stages and produces identical output."""

import os
import tempfile

import numpy as np

from irivermetrics_spark import synth
from irivermetrics_spark.plans import lineage, pipeline


def test_checkpointed_rerun_identical_and_skips(spark):
    fx = synth.make_fixture(w=50, h=25, n_dates=6, n_sections=2, seed=5)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    images = pipeline.images_df(spark, fx.images)
    ckpt = tempfile.mkdtemp(prefix="resume_")

    r1 = pipeline.run(spark, images, fx.reaches, grid, checkpoint_dir=ckpt)
    m1 = r1["metrics"].toPandas().sort_values(["section", "date"]).reset_index(drop=True)
    mask_files = sorted(os.listdir(os.path.join(ckpt, "mask_points")))
    mtimes = {f: os.path.getmtime(os.path.join(ckpt, "mask_points", f)) for f in mask_files}

    # rerun: completed stages must be skipped (files untouched), output equal
    r2 = pipeline.run(spark, images, fx.reaches, grid, checkpoint_dir=ckpt)
    m2 = r2["metrics"].toPandas().sort_values(["section", "date"]).reset_index(drop=True)
    mask_files2 = sorted(os.listdir(os.path.join(ckpt, "mask_points")))
    assert mask_files == mask_files2
    for f in mask_files:
        assert os.path.getmtime(os.path.join(ckpt, "mask_points", f)) == mtimes[f]

    assert m1["date"].tolist() == m2["date"].tolist()
    for col in ["npools", "wet_area_km2", "AWMSI", "pp_mean_%"]:
        np.testing.assert_allclose(
            m1[col].to_numpy(dtype=float), m2[col].to_numpy(dtype=float), equal_nan=True
        )

    # a mid-stage kill leaves no _SUCCESS -> stage re-runs: simulate by
    # deleting the marker of the water stage
    succ = os.path.join(ckpt, "water_filled", "_SUCCESS")
    os.remove(succ)
    r3 = pipeline.run(spark, images, fx.reaches, grid, checkpoint_dir=ckpt)
    m3 = r3["metrics"].toPandas().sort_values(["section", "date"]).reset_index(drop=True)
    np.testing.assert_allclose(
        m1["wet_area_km2"].to_numpy(dtype=float), m3["wet_area_km2"].to_numpy(dtype=float)
    )
    assert os.path.exists(succ)


def _rebuilds_an_older_water_stage(spark, dropped: list[str]) -> None:
    """A complete water_filled stage written without the ``dropped``
    columns is rebuilt on resume, and the metrics come out unchanged."""
    fx = synth.make_fixture(w=50, h=25, n_dates=6, n_sections=2, seed=5)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    images = pipeline.images_df(spark, fx.images)
    ckpt = tempfile.mkdtemp(prefix="resume_schema_")
    keys = ["section", "date"]
    m1 = (pipeline.run(spark, images, fx.reaches, grid, checkpoint_dir=ckpt)["metrics"]
          .toPandas().sort_values(keys).reset_index(drop=True))

    stage = os.path.join(ckpt, "water_filled")
    full = spark.read.parquet(stage).columns
    old = spark.read.parquet(stage).drop(*dropped).toPandas()
    spark.createDataFrame(old).write.mode("overwrite").parquet(stage)
    assert sorted(spark.read.parquet(stage).columns) == sorted(set(full) - set(dropped))

    m2 = (pipeline.run(spark, images, fx.reaches, grid, checkpoint_dir=ckpt)["metrics"]
          .toPandas().sort_values(keys).reset_index(drop=True))
    assert spark.read.parquet(stage).columns == full
    # the rebuilt stage's lineage record replaced the old one
    assert lineage.verify_stage(spark, spark.read.parquet(stage), ckpt, "water_filled")
    assert m1["date"].tolist() == m2["date"].tolist()
    for col in ["npools", "wet_area_km2", "AWMSI", "pp_mean_%"]:
        np.testing.assert_array_equal(m1[col].to_numpy(dtype=float), m2[col].to_numpy(dtype=float))


def test_resume_rebuilds_a_checkpoint_with_an_older_schema(spark):
    # written before the fill kernel attached the zonal cell key and
    # the scene axis length: (scene, ds, px, py) only
    _rebuilds_an_older_water_stage(spark, ["cell", "n_kept"])


def test_resume_rebuilds_a_checkpoint_without_n_kept(spark):
    # written before the fill kernel emitted the scene axis length: a
    # section kernel reading it would find no pp denominator
    _rebuilds_an_older_water_stage(spark, ["n_kept"])
