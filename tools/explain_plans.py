"""Dump formatted physical plans of the key pipeline stages.

Runs the flagship the way bench.py does (an image table plus a
``mask_path`` sink), so the dump shows the single kept-date path every
input takes: the mask table read back, one persisted per-(scene, date)
aggregate with its time axis, broadcast into the fill join.

Run to verify the plans the engine is designed around:
- the mask sink is one PythonMapInArrow (decode + each task's own
  parquet write) whose output is the small (file, rows) manifest the
  driver collects: no WriteFiles over point rows
- the section kernel's input joins only the broadcast cover on
  ``cell`` (a BroadcastHashJoin, never a sort-merge on points) and
  feeds one FlatMapGroupsInPandas per (scene, section)
- the metrics plan sums nothing after the section kernel: it
  broadcast-joins the kernel's pre-folded rows onto the grid, each
  side through a key-only ``first`` aggregate with no Exchange
- parquet scans show PushedFilters / pruned ReadSchema
- whole-stage codegen spans cover the relational stages
- AQE is active on the aggregate shuffles

Output goes to stdout; tools/../PLANS.md captures a reviewed snapshot.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from irivermetrics_spark import synth
    from irivermetrics_spark.operators import decode
    from irivermetrics_spark.plans import pipeline
    from irivermetrics_spark.session import get_spark

    spark = get_spark("explain", master="local[4]", shuffle_partitions=8)
    fx = synth.make_fixture(w=80, h=40, n_dates=6, n_sections=3, seed=42)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    images = pipeline.images_df(spark, fx.images)
    rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"])) for r in fx.reaches]
    with tempfile.TemporaryDirectory(prefix="explain_mask_") as mask_path:
        print("=" * 30, "mask sink (tasks write parquet; the driver collects the manifest)",
              "=" * 30)
        decode._manifest_frame(images, f"{mask_path}/_temporary/explain", grid,
                               corridor_rings=rings).explain("formatted")
        res = pipeline.run(spark, images, fx.reaches, grid, mask_path=mask_path)
        print("=" * 30, "kept-date dimension (persisted, read by the fill join)", "=" * 30)
        res["kept"].explain("formatted")
        print("=" * 30, "section kernel output (pool rows)", "=" * 30)
        res["pools"].explain("formatted")
        print("=" * 30, "metrics plan", "=" * 30)
        res["metrics"].explain("formatted")

    # parquet pushdown check on the sf tables
    sf = "/root/testdata/sf0.01"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") < "1996-01-01").select("l_orderkey", "l_extendedprice")
    print("=" * 30, "parquet pushdown (filter+prune)", "=" * 30)
    q.explain("formatted")
    spark.stop()


if __name__ == "__main__":
    main()
