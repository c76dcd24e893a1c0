"""The kept-date isin prefilter must reach the date-partitioned mask
scan as PartitionFilters — the serial-floor fix's design claim (a
semi-join alone never prunes the scan)."""

import tempfile

from pyspark.sql import functions as F

from irivermetrics_spark import synth
from irivermetrics_spark.plans import pipeline
from tests.conftest import kept_map


def test_kept_date_filter_prunes_partitions(spark):
    fx = synth.make_fixture(w=40, h=20, n_dates=4, n_sections=2, seed=8)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    images = pipeline.images_df(spark, fx.images)
    ckpt = tempfile.mkdtemp(prefix="prune_ckpt_")
    res = pipeline.run(spark, images, fx.reaches, grid, checkpoint_dir=ckpt)
    kept = kept_map(res)["scene0"]
    assert kept  # fixture keeps at least one date

    # the checkpointed mask table is date-partitioned; an isin on the
    # kept dates must show up as partition filters, not a post-scan one
    masks = spark.read.parquet(f"{ckpt}/mask_points")
    pruned = masks.filter(F.col("date").isin(kept[:1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the filter list is non-empty (contains the date predicate)
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert seg.strip(), plan
    # and pruning actually reduces files read vs the full table
    n_one = pruned.select("px").count()
    n_all = masks.select("px").count()
    assert 0 < n_one < n_all
