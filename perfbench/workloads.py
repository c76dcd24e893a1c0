"""The benchmark workloads: the paper's user-facing operations.

Each workload builds its inputs from a seed with ``synth.make_fixture``,
runs one operation through the package's public functions, and checks
the fully materialized output against the fixture truth or the numpy
oracle. A timed call ends only when every output column exists: a
parquet sink, a GeoTIFF sink, or ``toPandas()`` — never ``count()``.

- ``masks_from_images``: module 1, ``api.waterdetect_batch`` with a
  mask parquet sink. Decode and the sink do the work.
- ``module2_from_masks``: module 2, ``api.calculate_metrics`` on the
  mask table with ``export_PP=True``: the metrics CSV, the per-pixel
  persistence parquet and the persistence GeoTIFFs. Fill, zonal,
  morphology, the fold and the export sinks do the work.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

from irivermetrics_spark import api, synth
from irivermetrics_spark.kernels import fill, geotiff
from irivermetrics_spark.operators import decode
from irivermetrics_spark.oracle import numpy_oracle
from irivermetrics_spark.plans import pipeline

INPUT_PARTITIONS = 4

# metric tolerances of tests/test_pipeline_parity.py
RTOL, ATOL = 1e-9, 1e-12
FLOAT_COLS = ["section_area_km2", "wet_area_km2", "wet_length_km", "wet_perimeter_km",
              "AWMSI", "AWRe", "AWMPA", "AWMPL", "AWMPW", "PF", "PFL", "APSEC",
              "LPSEC", "pp_mean_%", "ra_area_km2", "section_length_km"]


@dataclass(frozen=True)
class Size:
    n_scenes: int
    n_dates: int
    n_sections: int

    @property
    def n_images(self) -> int:
        return self.n_scenes * self.n_dates


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def checked_scenes(fx) -> list[int]:
    """The scenes every correctness check compares: the first and last."""
    return sorted({0, fx.n_scenes - 1})


class Workload:
    name: str
    why: str
    size: Size
    writes_mask_table: bool = True
    warmup_calls = 0  # untimed calls after the first one

    def __init__(self, spark, work: str):
        self.spark = spark
        self.work = work
        self.fx = None
        self.grid = None
        self._oracle: dict[int, dict] = {}

    # ---------------------------------------------------------- setup
    def synthesize(self, seed: int) -> None:
        """The seeded fixture: truth masks, encoded images, reaches."""
        s = self.size
        # the reference fixture's 326x111 px grid
        self.fx = synth.make_fixture(n_dates=s.n_dates, n_sections=s.n_sections,
                                     n_scenes=s.n_scenes, seed=seed)
        self.grid = dict(gx0=self.fx.gx0, gy0=self.fx.gy0, ps=self.fx.pixel_size,
                         w=self.fx.w, h=self.fx.h)
        self._oracle = {}

    def materialize(self) -> None:
        """Cache the image table and, for module 2, write the module-1
        mask table from it."""
        self.spark.catalog.clearCache()
        # one partition per core, as bench.py lays out its image table
        images = pipeline.images_df(self.spark, self.fx.images).repartition(INPUT_PARTITIONS)
        images.persist().count()
        self.images = images
        if self.writes_mask_table:
            self.mask_table = os.path.join(self.work, "mask_table")
            api.waterdetect_batch(self.spark, images, grid=self.grid,
                                  reaches=self.fx.reaches, mask_path=self.mask_table)
            images.unpersist()

    def oracle(self, scene: int) -> dict:
        if scene not in self._oracle:
            self._oracle[scene] = numpy_oracle.run(self.fx, scene)
        return self._oracle[scene]

    # --------------------------------------------- per-call interface
    def call(self):
        """One user-facing operation, fully materialized."""
        raise NotImplementedError

    def after_call(self) -> None:
        """Outside the timed window: drop the persisted intermediates so
        the next call computes everything again instead of hitting a
        cache left by the previous one."""
        self.spark.catalog.clearCache()

    def check(self, out) -> bool:
        raise NotImplementedError

    def out_bytes(self, out) -> int:
        raise NotImplementedError


class MasksFromImages(Workload):
    name = "masks_from_images"
    why = "module 1: decode and the mask parquet sink do the work; no module-2 layer runs"
    size = Size(n_scenes=16, n_dates=24, n_sections=7)
    writes_mask_table = False
    warmup_calls = 2  # short calls: the JIT is still settling after the first

    def after_call(self) -> None:
        # the cached image table is the call's input, not one of its
        # intermediates: keep it
        pass

    def call(self):
        path = os.path.join(self.work, "masks_out")
        api.waterdetect_batch(self.spark, self.images, grid=self.grid,
                              reaches=self.fx.reaches, mask_path=path)
        return path

    def check(self, path) -> bool:
        """Exact match of the written mask rows against the fixture's
        truth masks for the checked scenes, plus one summary row per
        image."""
        from pyspark.sql import functions as F

        fx = self.fx
        names = [f"scene{k}" for k in checked_scenes(fx)]
        pdf = (self.spark.read.parquet(path).where(F.col("scene").isin(names))
               .select("scene", "date", "px", "py", "value").toPandas())
        day = {d: i for i, d in enumerate(fx.dates)}
        for k, name in zip(checked_scenes(fx), names):
            rows = pdf[pdf["scene"] == name]
            summ = rows[rows["value"] == decode.SUMMARY_MARKER]
            if sorted(summ["date"]) != list(fx.dates):
                return False
            pts = rows[rows["px"] >= 0]
            got = np.zeros_like(fx.masks[k])
            t = pts["date"].map(day).to_numpy()
            got[t, pts["py"].to_numpy(), pts["px"].to_numpy()] = pts["value"].to_numpy()
            if len(pts) != int((fx.masks[k] != 0).sum()) or not np.array_equal(got, fx.masks[k]):
                return False
        return True

    def out_bytes(self, path) -> int:
        return _dir_bytes(path)


def metrics_match(got, exp) -> bool:
    """One scene's metrics table against the oracle's: exact dates,
    sections and pool counts, floats at rtol 1e-9."""
    got = got.sort_values(["section", "date"]).reset_index(drop=True)
    exp = exp.sort_values(["section", "date"]).reset_index(drop=True)
    if got.shape[0] != exp.shape[0]:
        return False
    for col in ("date", "section", "npools"):
        if got[col].tolist() != exp[col].tolist():
            return False
    return all(
        np.allclose(got[col].to_numpy(dtype=float), exp[col].to_numpy(dtype=float),
                    rtol=RTOL, atol=ATOL, equal_nan=True)
        for col in FLOAT_COLS)


def expected_persistence(fx, scene: int) -> np.ndarray:
    """The oracle's per-pixel persistence raster for one scene: per
    section ``feat.mean(axis=0)`` over the kept, filled, binarized cube
    (numpy_oracle.run's first half, without its morphology), max over
    overlapping sections, as float32 — the GeoTIFF's pixel type."""
    masks = fx.masks[scene].astype(np.int8)
    corridor = numpy_oracle.corridor_mask(fx).astype(bool)
    cube = masks.copy()
    cube[(cube == -1) & corridor[None]] = 2
    ratio = ((cube != 2) & corridor[None]).sum(axis=(1, 2)) / int(corridor.sum())
    cube = np.where(corridor[None], cube[ratio >= 0.7], -1).astype(np.int8)
    n_t, h, w = cube.shape
    cube = fill.binarize(fill.fill_series(cube.reshape(n_t, h * w)).reshape(n_t, h, w))
    out = np.zeros((h, w), dtype=np.float64)
    for r in fx.reaches:
        rs, cs, fmask = numpy_oracle.feature_clip(fx, r)
        pp = np.where(fmask[None] == 1, cube[:, rs, cs], 0).mean(axis=0)
        out[rs, cs] = np.maximum(out[rs, cs], pp)
    return out.astype(np.float32)


class Module2FromMasks(Workload):
    name = "module2_from_masks"
    why = ("module 2 with the persistence export: fill, zonal, morphology, fold and the "
           "GeoTIFF sink do the work; decode never runs")
    size = Size(n_scenes=2, n_dates=6, n_sections=7)

    def call(self):
        outdir = os.path.join(self.work, "module2_out")
        shutil.rmtree(outdir, ignore_errors=True)
        os.makedirs(outdir)  # write_metrics_csv needs an existing outdir
        api.calculate_metrics(self.spark, self.spark.read.parquet(self.mask_table),
                              self.fx.reaches, grid=self.grid, export_PP=True, outdir=outdir)
        return outdir

    def check(self, outdir) -> bool:
        """The metrics CSV and the decoded persistence GeoTIFFs of the
        checked scenes against the numpy oracle."""
        metrics = pd.read_csv(os.path.join(outdir, "irm_metrics.csv"), index_col=0,
                              dtype={"scene": str, "date": str, "section": str})
        tifs = [f for f in os.listdir(outdir) if f.endswith(".tif")]
        if len(tifs) != self.fx.n_scenes:
            return False
        for k in checked_scenes(self.fx):
            got = metrics[metrics["scene"] == f"scene{k}"].drop(columns=["scene"])
            if not metrics_match(got, self.oracle(k)["metrics"]):
                return False
            with open(os.path.join(outdir, f"Pixel_Persistence_scene{k}.tif"), "rb") as f:
                arr, _, _ = geotiff.read_geotiff(f.read())
            if not np.array_equal(arr[0], expected_persistence(self.fx, k)):
                return False
        return True

    def out_bytes(self, outdir) -> int:
        return _dir_bytes(outdir)


WORKLOADS = {w.name: w for w in (MasksFromImages, Module2FromMasks)}
