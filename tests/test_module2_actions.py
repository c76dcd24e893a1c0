"""The module-2 action graph of ``api.calculate_metrics``: a pinned job
budget, labelled sink jobs, a persistence sink that runs beside the
metrics CSV and fails loudly, and no silent date loss in the kept-date
aggregate."""

import re
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from irivermetrics_spark import api, synth
from irivermetrics_spark.operators import decode
from irivermetrics_spark.plans import pipeline

# jobs of one warm calculate_metrics(export_PP=True, outdir=...) call on
# the fixture below; before the section kernel pre-folded the metric
# sums and the persistence summary it ran 22, with a kept-date time
# axis windowed per broadcast 23, before the per-(scene, section)
# kernel 29, and before that 43. A change that adds jobs must re-pin
# this on purpose.
JOB_BUDGET = 19
CSV_JOBS = "calculate_metrics: metrics CSV"
SINK_JOBS = "calculate_metrics: persistence parquet + GeoTIFFs"


@pytest.fixture(scope="module")
def mask_table(spark, tmp_path_factory):
    fx = synth.make_fixture(w=60, h=30, n_dates=6, n_sections=2, n_scenes=2, seed=23)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    path = str(tmp_path_factory.mktemp("budget") / "mask_table")
    api.waterdetect_batch(spark, pipeline.images_df(spark, fx.images), grid=grid,
                          reaches=fx.reaches, mask_path=path)
    return fx, grid, path


def _sink_threads() -> list:
    return [t for t in threading.enumerate() if t.name == "calculate_metrics-sink"]


def test_job_budget_and_labels(spark, mask_table, tmp_path):
    fx, grid, path = mask_table
    points = spark.read.parquet(path)  # schema inference stays outside the count

    def call(outdir):
        api.calculate_metrics(spark, points, fx.reaches, grid=grid,
                              export_PP=True, outdir=str(outdir))

    # first call: memoized corridor constants and first-use costs;
    # then drop its persisted frames so the counted call computes them
    call(tmp_path / "warm")
    spark.catalog.clearCache()
    sc = spark.sparkContext
    sc.setJobGroup("module2-budget", "module2 budget")
    try:
        call(tmp_path / "counted")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # a sink thread that did not inherit the group would drop its jobs
    # from this count
    ids = sc.statusTracker().getJobIdsForGroup("module2-budget")
    store = sc._jsc.sc().statusStore()
    descs = [store.job(j).description() for j in ids]
    descs = [d.get() for d in descs if d.isDefined()]
    assert len(ids) == JOB_BUDGET, sorted(set(descs))
    assert CSV_JOBS in descs and SINK_JOBS in descs
    # the caller's own label is back once the call returns
    assert sc.getLocalProperty("spark.job.description") is None
    assert (tmp_path / "counted" / "pixel_persistence.parquet" / "_SUCCESS").exists()
    assert not _sink_threads()


def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _first(node, name: str, above=()):
    """(the topmost ``name`` node of a JVM plan tree, its ancestors' names)."""
    if node.nodeName() == name:
        return node, above
    for kid in _children(node):
        hit = _first(kid, name, above + (node.nodeName(),))
        if hit is not None:
            return hit
    return None


def _nodes(node) -> list:
    """Every node of a JVM plan tree, top down."""
    return [node] + [n for kid in _children(node) for n in _nodes(kid)]


def _names(node, stop: str | None = None) -> list[str]:
    """Node names of a JVM plan subtree, not entering below ``stop`` nodes."""
    out = [node.nodeName()]
    if out[0] != stop:
        for kid in _children(node):
            out += _names(kid, stop)
    return out


def test_fold_sums_nothing_after_the_section_kernel(spark, mask_table):
    """The fold joins the section kernel's pre-folded rows: the only
    aggregates over its cached output are key-only ``first``s (they tell
    the optimizer the join keys are unique), the metrics plan shuffles
    only for its orderBy, and the kernel's input joins only the cover
    (its pp denominator comes from the fill, not from the kept dates)."""
    fx, grid, path = mask_table
    res = api.calculate_metrics(spark, spark.read.parquet(path), fx.reaches, grid=grid)
    qe = res["metrics"]._jdf.queryExecution()
    kernel, _ = _first(qe.analyzed(), "FlatMapGroupsInPandas")
    # down to the fill kernel: the cover join alone
    below = [n for kid in _children(kernel) for n in _names(kid, stop="FlatMapGroupsInPandas")]
    assert "FlatMapGroupsInPandas" in below and below.count("Join") == 1, below
    aggregates = [node.aggregateExpressions().mkString(", ") for node in _nodes(qe.optimizedPlan())
                  if node.nodeName() == "Aggregate"]
    assert len(aggregates) == 2
    for agg in aggregates:
        assert set(re.findall(r"(\w+)\(", agg)) == {"first"}, agg
    physical = _names(qe.executedPlan().initialPlan())
    assert physical.count("InMemoryTableScan") == 3 and physical.count("Exchange") == 1, physical
    for df in res.persisted:
        df.unpersist()


def test_persistence_sink_failure_raises_in_caller(spark, mask_table, tmp_path):
    """The GeoTIFF writer cannot open a path that is a directory: the
    sink fails while the metrics CSV succeeds, and the caller sees the
    sink's error only after the sink thread has ended."""
    fx, grid, path = mask_table
    outdir = tmp_path / "out"
    (outdir / "Pixel_Persistence_scene0.tif").mkdir(parents=True)
    with pytest.raises(Exception, match="Is a directory"):
        api.calculate_metrics(spark, spark.read.parquet(path), fx.reaches, grid=grid,
                              export_PP=True, outdir=str(outdir))
    assert (outdir / "irm_metrics.csv").exists()
    assert not _sink_threads()


def test_rewritten_mask_table_is_not_served_from_cache(spark, mask_table, tmp_path):
    """Spark matches caches by plan, not by file contents: after a call
    with ``outdir``, a second call on the same path, rewritten behind
    Spark's back (another writer, so no cache refresh) in the same
    session, reads the new table."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    fx, grid, path = mask_table
    moved = tmp_path / "mask_table"

    def rewrite(df):
        if moved.exists():
            shutil.rmtree(moved)
        moved.mkdir()
        pq.write_table(pa.Table.from_pandas(df.toPandas(), preserve_index=False),
                       moved / "part-0.parquet")

    def wet_area(outdir):
        api.calculate_metrics(spark, spark.read.parquet(str(moved)), fx.reaches, grid=grid,
                              outdir=str(outdir))
        return pd.read_csv(outdir / "irm_metrics.csv", index_col=0)["wet_area_km2"]

    rewrite(spark.read.parquet(path))
    assert wet_area(tmp_path / "first").sum() > 0
    # the same table with every water point dropped: all dates stay kept, all dry
    rewrite(spark.read.parquet(path).where(F.col("value") != 1))
    second = wet_area(tmp_path / "second")
    assert len(second) > 0 and (second == 0).all()


def test_points_without_summary_row_fail_loudly(spark, mask_table):
    """A counted mask table whose (scene, date) has points but no
    summary row cannot be validated: its kept-ness is unknown. The date
    is unique to the table (one scene), so no other scene's kept date
    could carry its points past the date-pruning prefilter either."""
    fx, grid, path = mask_table
    points = spark.read.parquet(path).where(F.col("scene") == "scene0")
    victim = (points.where(F.col("px") >= 0).select("date").distinct()
              .orderBy("date").first()["date"])
    cut = points.where(~((F.col("date") == F.lit(victim))
                         & (F.col("value") == decode.SUMMARY_MARKER)))
    with pytest.raises(ValueError, match="no summary row"):
        api.calculate_metrics(spark, cut, fx.reaches, grid=grid)
    # the intact table runs
    res = api.calculate_metrics(spark, points, fx.reaches, grid=grid)
    assert res["single_scene"] and res["metrics"].count() > 0



def test_dimension_grid_literals_round_trip(spark):
    """The sections enter the fold's keyspace as SQL literals: names
    with quotes or backslashes and areas must come back exactly."""
    import datetime

    from irivermetrics_spark.operators import metrics

    reaches = [dict(section="o'k\\x", area_m2=1234.5678901234),
               dict(section="plain", area_m2=0.1 + 0.2)]
    kept = spark.createDataFrame([("s0", datetime.date(2020, 1, 2))], "scene string, date date")
    got = sorted(tuple(r) for r in metrics.dimension_grid(kept, reaches).collect())
    assert got == [("s0", "2020-01-02", "o'k\\x", 1234.5678901234 / 1e6),
                   ("s0", "2020-01-02", "plain", (0.1 + 0.2) / 1e6)]
