"""The mask-table sink (``decode.write_mask_table``) against Spark's
own parquet writer over the same decode: equal rows, equal inferred
schema, and a commit that replaces the table only when the job
succeeds."""

import os

import numpy as np
import pandas as pd
import pytest
from pyarrow import fs as pafs
from pyspark.sql import functions as F
from pyspark.sql import types as T

from irivermetrics_spark import api, codecs, synth
from irivermetrics_spark.operators import decode
from irivermetrics_spark.plans import pipeline


@pytest.fixture(scope="module")
def scene(spark):
    fx = synth.make_fixture(w=60, h=30, n_dates=4, n_sections=2, n_scenes=2, seed=23)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"])) for r in fx.reaches]
    return fx, grid, rings


def _assert_same_table(spark, got_path, want_path):
    got, want = spark.read.parquet(got_path), spark.read.parquet(want_path)
    assert got.schema == want.schema
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _entries(path):
    return sorted(os.listdir(path))


def test_sink_matches_spark_writer_with_quarantine_null_id_and_aoi(spark, scene, tmp_path):
    fx, grid, rings = scene
    schema = T.StructType([T.StructField("image_id", T.StringType(), True),
                           T.StructField("bytes", T.BinaryType(), True)])
    rows = [(r.image_id, bytes(r.bytes)) for r in fx.images.itertuples(index=False)]
    rows += [(None, None), ("scene9_2020-03-01", b"not an image")]
    images = spark.createDataFrame(rows, schema).repartition(3)
    ymid = fx.gy0 - fx.h * fx.pixel_size / 2
    lines = api.normalize_lines([dict(x=[fx.gx0, fx.gx0 + fx.w * fx.pixel_size], y=[ymid, ymid])])
    kw = dict(corridor_rings=rings, aoi=(lines, fx.h * fx.pixel_size / 4),
              on_undecodable="quarantine")
    got = decode.write_mask_table(images, str(tmp_path / "sink"), grid, **kw)
    decode.decode_points(images, grid, **kw).write.parquet(str(tmp_path / "spark"))
    _assert_same_table(spark, str(tmp_path / "sink"), str(tmp_path / "spark"))
    # the returned frame is the table read back with the K1 schema
    assert got.schema == spark.read.parquet(str(tmp_path / "sink")).schema
    bad = got.where(F.col("value") == decode.QUARANTINE_MARKER).toPandas()
    assert len(bad) == 2 and bad.image_id.isna().sum() == 1
    assert "_temporary" not in _entries(tmp_path / "sink")
    assert "_SUCCESS" in _entries(tmp_path / "sink")


def test_fewer_images_than_partitions_and_no_images(spark, scene, tmp_path):
    fx, grid, rings = scene
    images = pipeline.images_df(spark, fx.images.head(2)).repartition(6)
    got = decode.write_mask_table(images, str(tmp_path / "few"), grid, corridor_rings=rings)
    decode.decode_points(images, grid, corridor_rings=rings).write.parquet(str(tmp_path / "spark"))
    _assert_same_table(spark, str(tmp_path / "few"), str(tmp_path / "spark"))
    assert got.schema == decode.MASK_TABLE_SCHEMA
    # only partitions that held an image wrote a file
    assert len([f for f in _entries(tmp_path / "few") if f.endswith(".parquet")]) <= 2

    # no image at all: one empty file still carries the schema
    empty = decode.write_mask_table(images.limit(0), str(tmp_path / "none"), grid,
                                    corridor_rings=rings)
    assert empty.count() == 0
    assert spark.read.parquet(str(tmp_path / "none")).schema == decode.MASK_TABLE_SCHEMA


def test_overwrite_and_existing_empty_dir(spark, scene, tmp_path):
    fx, grid, rings = scene
    images = pipeline.images_df(spark, fx.images)
    path = tmp_path / "table"
    path.mkdir()  # an existing empty dir, as a mkdtemp sink
    decode.write_mask_table(images, str(path), grid, corridor_rings=rings)
    cached = spark.read.parquet(str(path)).persist()
    assert cached.select("image_id").distinct().count() == len(fx.images)
    # a second write replaces the first table's files, also a stray one
    (path / "old-part.parquet").write_bytes(b"stale")
    one = pipeline.images_df(spark, fx.images.head(1)).coalesce(1)
    got = decode.write_mask_table(one, str(path), grid, corridor_rings=rings)
    assert _entries(path) == ["_SUCCESS", "part-00000-0.parquet"]
    assert got.select("image_id").distinct().count() == 1
    # as after Spark's writer, a cached frame over the path reads the new table
    assert cached.select("image_id").distinct().count() == 1
    cached.unpersist()
    decode.decode_points(one, grid, corridor_rings=rings).write.parquet(str(tmp_path / "spark"))
    _assert_same_table(spark, str(path), str(tmp_path / "spark"))


def test_failed_decode_leaves_previous_table(spark, scene, tmp_path):
    fx, grid, rings = scene
    path = str(tmp_path / "table")
    images = pipeline.images_df(spark, fx.images)
    decode.write_mask_table(images, path, grid, corridor_rings=rings)
    before = {f: os.path.getsize(os.path.join(path, f)) for f in _entries(path)}
    rows_before = spark.read.parquet(path).count()

    arr = np.random.default_rng(1).integers(0, 20000, (3, fx.h, fx.w)).astype(np.uint16)
    bad = pd.DataFrame([dict(image_id="scene0_2021-01-01", bytes=codecs.encode_image(arr),
                             w=fx.w, h=fx.h, fmt="raw16", caption="c", phash=0)])
    mixed = pipeline.images_df(spark, pd.concat([fx.images, bad], ignore_index=True))
    with pytest.raises(Exception, match="bands < required"):
        decode.write_mask_table(mixed, path, grid, corridor_rings=rings)
    assert {f: os.path.getsize(os.path.join(path, f)) for f in _entries(path)} == before
    assert spark.read.parquet(path).count() == rows_before

    # a failed first write leaves no directory behind
    fresh = str(tmp_path / "fresh")
    with pytest.raises(Exception, match="bands < required"):
        decode.write_mask_table(mixed, fresh, grid, corridor_rings=rings)
    assert not os.path.exists(fresh)


def test_unlisted_staged_file_is_never_committed(spark, scene, tmp_path):
    fx, grid, rings = scene
    path = tmp_path / "table"
    # a file another job staged and never committed
    (path / "_temporary" / "other-job").mkdir(parents=True)
    (path / "_temporary" / "other-job" / "part-00000-1.parquet").write_bytes(b"partial")
    decode.write_mask_table(pipeline.images_df(spark, fx.images), str(path), grid,
                            corridor_rings=rings)
    assert "_temporary" not in _entries(path)
    assert "part-00000-1.parquet" not in _entries(path)

    # the commit step itself moves only the manifest's files
    fs, root = pafs.FileSystem.from_uri(str(tmp_path / "commit"))
    stage = f"{root}/_temporary/job"
    fs.create_dir(stage)
    for name in ("part-00000-0.parquet", "part-00000-1.parquet"):
        with fs.open_output_stream(f"{stage}/{name}") as f:
            f.write(b"x")
    decode._commit(fs, root, stage, ["part-00000-0.parquet"])
    assert _entries(tmp_path / "commit") == ["_SUCCESS", "_temporary", "part-00000-0.parquet"]
    assert _entries(tmp_path / "commit" / "_temporary" / "job") == ["part-00000-1.parquet"]


def test_unknown_scheme_raises_before_any_job(spark, scene):
    fx, grid, rings = scene
    images = pipeline.images_df(spark, fx.images)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup()
    with pytest.raises(Exception):
        decode.write_mask_table(images, "nosuchfs://bucket/table", grid, corridor_rings=rings)
    assert spark.sparkContext.statusTracker().getJobIdsForGroup() == jobs
