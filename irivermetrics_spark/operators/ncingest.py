"""S5: NetCDF water-mask cube ingest -> the engine's mask-point table.

The reference's de-facto entry format (examples/irm_example.ipynb cell
3: ``xr.open_dataset('tests/wmask_ts.nc').water`` handed straight to
``calculate_metrics``). Files load through Spark's ``binaryFile``
source and decode inside ``mapInPandas`` — one task per .nc cube, so a
directory of thousands of scene cubes ingests fully distributed; the
classic-format parse itself is kernels/netcdf.py (from scratch, no
netCDF library in this environment).

Output schema matches operators/decode.decode_points exactly
(image_id, px, py, value, cell + scene/date), so the result drops into
``api.calculate_metrics`` / ``plans.pipeline.run(points=...)`` with no
special-casing: water pixels emit value 1, nodata emits -1, and each
(scene, date) adds one fused summary row (value -9) carrying the
in-corridor invalid count when ``corridor_rings`` is given (F6 fused),
else the presence-only marker -1.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..kernels import netcdf
from .decode import CELL_RES, POINTS_SCHEMA, with_scene_date


def _scene_name(path: str) -> str:
    """Filename -> scene id (alphanumeric, per the image_id contract).

    Stripping punctuation alone would collide distinct files
    ('a_1.nc' / 'a-1.nc' / 'a1.nc' all -> 'a1') and silently merge
    their (scene, date) dimensions, so any lossy sanitization appends
    a crc32 of the ORIGINAL basename — distinct files keep distinct
    scenes."""
    import zlib

    base = os.path.splitext(os.path.basename(path))[0]
    clean = re.sub(r"[^A-Za-z0-9]", "", base)
    if clean == base and clean:
        return clean
    return (clean or "nc") + format(zlib.crc32(base.encode()), "08x")


def nc_mask_points(files: DataFrame, grid: dict, res: int = CELL_RES,
                   corridor_rings: list | None = None,
                   var: str = "water",
                   aoi: tuple[list, float] | None = None) -> DataFrame:
    """binaryFile frame (path, content) -> mask-point rows.

    grid: the engine's uniform target grid (gx0, gy0, ps, w, h); every
    cube is asserted against it map-side, like the S1 image-table
    uniformity check — mixed-grid .nc inputs fail loudly per file.

    aoi: (lines, buffer_m) — the module-1 buffered-AOI clip, applied
    per pixel inside the kernel exactly like the image decode path
    (shared emit_mask_rows), so fused invalid counts and the
    pipeline's constant invalid_offset stay consistent.
    """
    gx0, gy0, ps = float(grid["gx0"]), float(grid["gy0"]), float(grid["ps"])
    expected_hw = (int(grid["h"]), int(grid["w"]))
    aoi_lines, aoi_buffer = None, 0.0
    if aoi is not None:
        aoi_lines = [(np.asarray(lx, dtype=np.float64), np.asarray(ly, dtype=np.float64))
                     for lx, ly in aoi[0]]
        aoi_buffer = float(aoi[1])

    def kernel(batches):
        from .decode import emit_mask_rows, empty_points_pdf

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                scene = _scene_name(row["path"])
                cube, dates, g = netcdf.read_wmask(bytes(row["content"]), var=var)
                if (g["h"], g["w"]) != expected_hw or not (
                        np.isclose(g["gx0"], gx0) and np.isclose(g["gy0"], gy0)
                        and np.isclose(g["ps"], ps)):
                    raise ValueError(
                        f"{row['path']}: cube grid {g} != target "
                        f"{dict(gx0=gx0, gy0=gy0, ps=ps, w=expected_hw[1], h=expected_hw[0])} "
                        "(uniform-grid contract)")
                for t, d in enumerate(dates):
                    # shared emission contract with the image decode
                    # kernel (decode.emit_mask_rows) — the two ingest
                    # paths cannot diverge on points/summary semantics
                    out.extend(emit_mask_rows(
                        f"{scene}_{d}", cube[t], gx0, gy0, ps, res,
                        corridor_rings, aoi_lines=aoi_lines,
                        aoi_buffer=aoi_buffer))
            yield pd.concat(out, ignore_index=True) if out else empty_points_pdf()

    pts = files.select("path", "content").mapInPandas(kernel, schema=POINTS_SCHEMA)
    return with_scene_date(pts)


def tif_mask_points(files: DataFrame, grid: dict, res: int = CELL_RES,
                    corridor_rings: list | None = None,
                    aoi: tuple[list, float] | None = None) -> DataFrame:
    """binaryFile frame of per-date mask GeoTIFFs -> mask-point rows.

    The K1 counterpart of ``nc_mask_points``: the reference's module 1
    writes one ``YYYY-MM-DD.tif`` water mask per date
    (src/utils/wd_batch.py:584-588) and module 2 can re-ingest that
    directory. Values are the mask classes {1 water, 0 dry, -1 nodata}
    (``wd_mask`` writes nodata=-1); the scene id comes from the parent
    directory name (one directory per scene/run, the reference's
    layout), the date from the filename. Same shared emission contract
    (decode.emit_mask_rows) as the image and NetCDF ingest paths.
    """
    gx0, gy0, ps = float(grid["gx0"]), float(grid["gy0"]), float(grid["ps"])
    expected_hw = (int(grid["h"]), int(grid["w"]))
    aoi_lines, aoi_buffer = None, 0.0
    if aoi is not None:
        aoi_lines = [(np.asarray(lx, dtype=np.float64), np.asarray(ly, dtype=np.float64))
                     for lx, ly in aoi[0]]
        aoi_buffer = float(aoi[1])

    def kernel(batches):
        from ..kernels import geotiff
        from .decode import emit_mask_rows, empty_points_pdf

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                path = row["path"]
                m = re.search(r"(\d{4}-\d{2}-\d{2})", os.path.basename(path))
                if not m:
                    raise ValueError(f"{path}: no YYYY-MM-DD date in mask filename")
                scene = _scene_name(os.path.dirname(path) or "scene")
                arr, g, _nodata = geotiff.read_geotiff(bytes(row["content"]))
                mask = arr[0].astype(np.int8)
                if (mask.shape != expected_hw) or not (
                        np.isclose(g["gx0"], gx0) and np.isclose(g["gy0"], gy0)
                        and np.isclose(g["ps"], ps)):
                    raise ValueError(
                        f"{path}: mask grid {g} shape {mask.shape} != target "
                        f"{dict(gx0=gx0, gy0=gy0, ps=ps)} {expected_hw} "
                        "(uniform-grid contract)")
                out.extend(emit_mask_rows(
                    f"{scene}_{m.group(1)}", mask, gx0, gy0, ps, res,
                    corridor_rings, aoi_lines=aoi_lines, aoi_buffer=aoi_buffer))
            yield pd.concat(out, ignore_index=True) if out else empty_points_pdf()

    pts = files.select("path", "content").mapInPandas(kernel, schema=POINTS_SCHEMA)
    return with_scene_date(pts)


def read_wmask_tifs(spark: SparkSession, path: str, res: int = CELL_RES,
                    corridor_rings: list | None = None,
                    aoi: tuple[list, float] | None = None) -> tuple[DataFrame, dict]:
    """Path (directory or glob of per-date mask .tifs) ->
    (mask-point DataFrame, grid dict). Grid from one driver-side header
    parse of the first file, re-asserted per file in the kernel —
    mirrors ``read_wmask_nc``."""
    from ..kernels import geotiff

    # case-insensitive glob (Hadoop globs are case-sensitive, unlike
    # the driver-side dispatch probe) + recursive lookup for the
    # multi-scene outdir/SCENE/DATE.tif export layout
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.[tT][iI][fF]*")
             .option("recursiveFileLookup", "true")
             .load(path))
    first = files.select("content").limit(1).collect()
    if not first:
        raise ValueError(f"no .tif files under {path}")
    arr, g, _ = geotiff.read_geotiff(bytes(first[0]["content"]))
    grid = dict(gx0=g["gx0"], gy0=g["gy0"], ps=g["ps"],
                w=int(arr.shape[2]), h=int(arr.shape[1]))
    return tif_mask_points(files, grid, res=res,
                           corridor_rings=corridor_rings, aoi=aoi), grid


def read_wmask_nc(spark: SparkSession, path: str, res: int = CELL_RES,
                  corridor_rings: list | None = None,
                  var: str = "water",
                  aoi: tuple[list, float] | None = None) -> tuple[DataFrame, dict]:
    """Path (file, directory or glob of classic .nc cubes) ->
    (mask-point DataFrame, grid dict).

    The grid comes from ONE driver-side header parse of the first file
    (cheap: the classic header is a few hundred bytes plus coords);
    every file is then re-asserted against it inside the distributed
    kernel. The returned frame feeds ``api.calculate_metrics`` as
    ``da_wmask`` directly — reference workflow parity:
    ``calculate_metrics(xr.open_dataset(nc).water, rcor_extent)``.
    """
    # case-insensitive .nc filter for DIRECTORIES only: a dir holding
    # README/aux files next to the cubes should not crash the parser,
    # but a direct file path or explicit glob (any extension, e.g.
    # .nc4 or extension-less temp files — the parser validates the CDF
    # magic itself) must keep loading as before (r5 review)
    reader = spark.read.format("binaryFile")
    import os as _os

    if _os.path.isdir(path):
        reader = reader.option("pathGlobFilter", "*.[nN][cC]")
    files = reader.load(path)
    first = files.select("content").limit(1).collect()
    if not first:
        raise ValueError(f"no files under {path}")
    _, _, grid = netcdf.read_wmask(bytes(first[0]["content"]), var=var)
    return nc_mask_points(files, grid, res=res,
                          corridor_rings=corridor_rings, var=var, aoi=aoi), grid
