"""Traced run: per-layer spans timed from outside the package.

Each layer of a workload runs on its own, materialized through a
``noop`` write (or its real sink), under a Spark job group named after
the layer. Its input is persisted by the previous span, so a span holds
only its own layer's jobs. The span wall comes from the benchmark's
clock; task CPU, shuffle, spill and Python-boundary bytes come from the
Spark event log, which :func:`parse_event_log` folds into one row per
job group. Row counts are taken after the spans, under the ``count``
group, from the persisted frames.

Layers are the package's modules:

- ``decode``: operators/decode.decode_points with kernels/water;
- ``sink``: the mask parquet write, i.e. the decode+write span minus
  the decode-only span;
- ``plan``: plans/pipeline.run, from the call until it returns (on the
  from-masks path this includes the kept-date stats job it runs);
- ``kept``: fillop.keep_dates_fused;
- ``fill``: fillop.filled_water;
- ``zonal``: zonal.zonal_join;
- ``morphology``: morphology.pool_rows;
- ``fold``: metrics.persistence, dimension_grid and fold, collected
  into the metrics CSV;
- ``pp_export``: metrics.pixel_persistence_px plus its parquet and
  GeoTIFF sinks (exports.write_pixel_persistence,
  write_persistence_geotiffs).

A layer that the workload's operation never runs reports zeros.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

LAYERS = ["decode", "sink", "plan", "kept", "fill", "zonal", "morphology", "fold", "pp_export"]
# per-layer stat -> unit; the event-log stats are summed over the tasks
# of the layer's job group
STATS = {
    "wall_s": "s",
    "rows_in": "count",
    "rows_out": "count",
    "task_cpu_s": "s",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "py_sent_bytes": "bytes",
    "py_recv_bytes": "bytes",
}
EVENT_STATS = ["task_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
               "py_sent_bytes", "py_recv_bytes"]
EXTRAS = {
    "sink.bytes_per_row": "bytes/row",
    "kept.keep_ratio": "ratio",
    "zonal.hit_ratio": "ratio",
    "morphology.groups": "count",
    "morphology.ms_per_group": "ms",
    "plan.driver_s": "s",
    "trace.overhead_s": "s",
}
# SQL metrics of the Python nodes (ArrowEvalPython, MapInArrow,
# FlatMapGroupsInPandas) as the event log names them
PY_METRICS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_recv_bytes",
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = {f"{layer}.{stat}": unit for layer in LAYERS for stat, unit in STATS.items()}
    out.update(EXTRAS)
    return out


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Spark event-log JSON lines -> {job group: stats}.

    Stats per group: the EVENT_STATS summed over every finished task of
    the group's jobs, plus ``job_s``, the union of the group's job
    intervals (submission to completion) in seconds."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    intervals: dict[str, list] = defaultdict(list)
    started: dict[int, int] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[ev["Job ID"]] = group
                started[ev["Job ID"]] = ev["Submission Time"]
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if job_group.get(jid) is not None and jid in started:
                    intervals[job_group[jid]].append((started[jid], ev["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                row = out[group]
                m = ev.get("Task Metrics") or {}
                row["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics") or {}
                row["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = PY_METRICS.get(acc.get("Name"))
                    if key is not None:
                        row[key] += float(acc.get("Update") or 0)
    for group, spans in intervals.items():
        busy, end = 0, None
        for s, e in sorted(spans):
            if end is None or s > end:
                busy += e - s
                end = e
            elif e > end:
                busy += e - end
                end = e
        out[group]["job_s"] = busy / 1000.0
    return {g: dict(v) for g, v in out.items()}


class Tracer:
    """Layer spans: a job group per span plus the span's wall clock."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.walls: dict[str, float] = {}

    @contextmanager
    def span(self, layer: str):
        self.sc.setJobGroup(layer, f"perfbench layer {layer}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[layer] = time.perf_counter() - t0
            self.sc.setJobGroup("count", "perfbench outside layer spans")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def trace_masks(wl, tr: Tracer):
    """decode alone, then decode + the mask sink (the timed call)."""
    from irivermetrics_spark.operators import decode

    rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"])) for r in wl.fx.reaches]
    with tr.span("decode"):
        _noop(decode.decode_points(wl.images, wl.grid, corridor_rings=rings))
    with tr.span("sink"):
        path = wl.call()
    n_rows = wl.spark.read.parquet(path).count()
    counts = {
        "decode.rows_in": wl.size.n_images, "decode.rows_out": n_rows,
        "sink.rows_in": n_rows, "sink.rows_out": n_rows,
        "sink.bytes_per_row": wl.out_bytes(path) / n_rows,
    }
    return path, counts


def trace_module2(wl, tr: Tracer):
    """kept, then pipeline.run and its layers one at a time, ending on
    the same sinks as ``api.calculate_metrics(export_PP=True)``."""
    from pyspark.sql import functions as F

    from irivermetrics_spark.operators import decode, exports, fillop, zonal
    from irivermetrics_spark.plans import pipeline

    spark, reaches, grid = wl.spark, wl.fx.reaches, wl.grid
    points = spark.read.parquet(wl.mask_table)
    # the same kept-date inputs pipeline.run derives from a mask table
    summaries = points.filter(F.col("value") == decode.SUMMARY_MARKER)
    real = points.filter(~F.col("value").isin(decode.SUMMARY_MARKER, decode.QUARANTINE_MARKER))
    dates = real.select("scene", "date").unionByName(summaries.select("scene", "date")).distinct()
    corridor_total = fillop.corridor_pixel_count(spark, zonal.corridor_cover_df(spark, reaches),
                                                 reaches, grid)
    with tr.span("kept"):
        _noop(fillop.keep_dates_fused(summaries, dates, corridor_total))
    with tr.span("plan"):
        res = pipeline.run(spark, None, reaches, grid, points=spark.read.parquet(wl.mask_table))
    with tr.span("fill"):
        water = res["water"].persist()
        _noop(water)
    with tr.span("zonal"):
        # re-register the cache so it reads the persisted fill output
        joined = res["water_joined"].unpersist().persist()
        _noop(joined)
    with tr.span("morphology"):
        pools = res["pools"].persist()
        _noop(pools)
    outdir = os.path.join(wl.work, "module2_out")
    shutil.rmtree(outdir, ignore_errors=True)
    os.makedirs(outdir)
    with tr.span("fold"):
        exports.write_metrics_csv(res["metrics"], os.path.join(outdir, "irm_metrics.csv"))
    with tr.span("pp_export"):
        exports.write_pixel_persistence(res["persistence_px"],
                                        os.path.join(outdir, "pixel_persistence.parquet"))
        exports.write_persistence_geotiffs(res["persistence_px"], grid, outdir).collect()

    n_summ, n_kept = summaries.count(), res["kept"].count()
    n_points, n_water = res["mask_points"].count(), water.count()
    n_joined, n_pools = joined.count(), pools.count()
    groups = joined.select("scene", "section", "ds").distinct().count()
    counts = {
        "plan.rows_in": points.count(), "plan.rows_out": n_kept,
        "kept.rows_in": n_summ, "kept.rows_out": n_kept, "kept.keep_ratio": n_kept / n_summ,
        "fill.rows_in": n_points, "fill.rows_out": n_water,
        "zonal.rows_in": n_water, "zonal.rows_out": n_joined,
        "zonal.hit_ratio": n_joined / max(n_water, 1),
        "morphology.rows_in": n_joined, "morphology.rows_out": n_pools,
        "morphology.groups": groups,
        "morphology.ms_per_group": 1000.0 * tr.walls["morphology"] / max(groups, 1),
        "fold.rows_in": n_pools, "fold.rows_out": res["metrics"].count(),
        "pp_export.rows_in": n_joined, "pp_export.rows_out": res["persistence_px"].count(),
    }
    return outdir, counts


def trace_workload(wl, tr: Tracer):
    if wl.name == "masks_from_images":
        return trace_masks(wl, tr)
    return trace_module2(wl, tr)


def layer_metrics(walls: dict[str, float], groups: dict[str, dict[str, float]],
                  counts: dict[str, float], untraced_wall_s: float) -> dict[str, float]:
    """Span walls + event-log rows + counts -> every per-layer metric."""
    out = {name: 0.0 for name in metric_units()}
    for layer, wall in walls.items():
        out[f"{layer}.wall_s"] = wall
        for stat in EVENT_STATS:
            out[f"{layer}.{stat}"] = groups.get(layer, {}).get(stat, 0.0)
    if "sink" in walls:
        # the sink span re-runs decode: its own cost is the difference
        for stat in ["wall_s"] + EVENT_STATS:
            out[f"sink.{stat}"] -= out[f"decode.{stat}"]
    if "plan" in walls:
        out["plan.driver_s"] = walls["plan"] - groups.get("plan", {}).get("job_s", 0.0)
    out.update(counts)
    traced = sum(out[f"{layer}.wall_s"] for layer in LAYERS)
    out["trace.overhead_s"] = traced - untraced_wall_s
    return out


def find_event_log(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])
