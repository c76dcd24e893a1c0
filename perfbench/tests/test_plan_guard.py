"""Plan guard: every timed action still runs its layers' Python nodes.

A benchmark that ends on ``count()`` lets Spark prune the plan down to
the kept-date dimension, so fill, zonal, morphology and the fold never
run. These tests pin that each action the benchmark times materializes
a plan that still holds the Python nodes of its layers.
"""

import re

import numpy as np
import pytest

from irivermetrics_spark import api, synth
from irivermetrics_spark.operators import decode, exports
from irivermetrics_spark.plans import pipeline


def python_nodes(df) -> dict[str, int]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return {name: len(re.findall(rf"\b{name}\b", plan))
            for name in ("MapInArrow", "ArrowEvalPython", "FlatMapGroupsInPandas")}


@pytest.fixture(scope="module")
def module2(spark, tmp_path_factory):
    fx = synth.make_fixture(w=60, h=30, n_dates=6, n_sections=2, n_scenes=2, seed=3)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    images = pipeline.images_df(spark, fx.images)
    mask_table = str(tmp_path_factory.mktemp("guard") / "mask_table")
    api.waterdetect_batch(spark, images, grid=grid, reaches=fx.reaches, mask_path=mask_table)
    res = api.calculate_metrics(spark, spark.read.parquet(mask_table), fx.reaches, grid=grid)
    return fx, grid, images, res


def test_mask_sink_runs_decode_kernel(module2):
    fx, grid, images, _ = module2
    rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"])) for r in fx.reaches]
    # waterdetect_batch writes exactly this frame to the mask sink
    pts = decode.decode_points(images, grid, corridor_rings=rings)
    assert python_nodes(pts)["MapInArrow"] >= 1


def test_metrics_collect_runs_fill_zonal_and_morphology(module2):
    nodes = python_nodes(module2[3]["metrics"])
    # fill kernel + morphology kernel, and the zonal boundary refine
    assert nodes["FlatMapGroupsInPandas"] >= 2
    assert nodes["ArrowEvalPython"] >= 1


def test_persistence_sinks_run_fill_and_export(module2, tmp_path):
    _, grid, _, res = module2
    assert python_nodes(res["persistence_px"])["FlatMapGroupsInPandas"] >= 1
    manifest = exports.write_persistence_geotiffs(res["persistence_px"], grid, str(tmp_path))
    # fill kernel + the per-scene GeoTIFF writer
    assert python_nodes(manifest)["FlatMapGroupsInPandas"] >= 2


def test_count_prunes_the_metric_layers(module2):
    """Why the benchmark never ends a call on count(): the optimizer
    drops every Python node of the metrics plan."""
    metrics = module2[3]["metrics"]
    assert sum(python_nodes(metrics.groupBy().count()).values()) == 0
    assert sum(python_nodes(metrics).values()) > 0
