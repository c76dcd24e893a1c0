"""Vector exports: pool polygons (M8), centerlines + points (M10, K4).

Reproduces the reference's export branch (src/irm_main.py:209-226;
src/utils/calc_metrics.py:1023-1187):

- polygons: per (scene, section, date), polygonize the pool mask
  (8-connectivity, union-of-squares geometry), drop polygons with
  area < min_pool_size * px^2 (F9, :1119-1137), Type='Pool',
  area_m2/area_km2 attributes (:1071-1083, 1129-1132).
- lines: one LineString per pool centerline path with > 1 point
  (F10, :1169-1171), attributes (date, section, label, length_km).
- points: 3 per line — coord_start, coord_end, mid_point at half the
  line LENGTH (shapely interpolate(0.5, normalized=True) semantics,
  :1150-1155).

Geometry is emitted as array<struct<x,y>> columns (parquet-friendly) —
the scale path. The reference's FILE formats are also real now:
``write_vector_shapefiles`` emits irm_Polygons/Lines/Points
.shp/.shx/.dbf via the from-scratch writer (kernels/shapefile.py) and
``write_persistence_geotiff`` emits Pixel_Persistence.tif via the
from-scratch GeoTIFF codec (kernels/geotiff.py); both are driver-side
single-file sinks for the FINAL small outputs, as in the reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import ccl, polygonize
from .morphology import clip_offsets, empty_rows

POLY_SCHEMA = (
    "scene string, Date string, Section string, Type string, "
    "area_m2 double, area_km2 double, ring_x array<double>, ring_y array<double>"
)
LINE_SCHEMA = (
    "scene string, date string, section string, label int, length_km double, "
    "line_x array<double>, line_y array<double>"
)
POINT_SCHEMA = "scene string, Date string, section string, line int, Type string, x double, y double"


def write_metrics_csv(metrics: DataFrame, path: str) -> None:
    """K3: the reference's irm_metrics.csv sink (src/irm_main.py:207) —
    a single ordered CSV with an index column, written driver-side
    (the metrics table is one row per (scene, date, section))."""
    import os

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    metrics.toPandas().to_csv(path)


def write_pixel_persistence(pp: DataFrame, path: str) -> None:
    """K2 sink: per-pixel persistence table -> parquet, scene-partitioned
    (the reference writes Pixel_Persistence.tif, src/irm_main.py:228-233;
    the engine's raster container is the parquet point table plus
    ``persistence_raster`` for dense reassembly)."""
    pp.write.mode("overwrite").partitionBy("scene").parquet(path)


def persistence_raster(pp: DataFrame, grid: dict, scene: str) -> np.ndarray:
    """Collect one scene's per-pixel persistence into a dense (h, w)
    float64 raster — 0.0 for never-wet pixels, like the reference's
    GeoTIFF (src/utils/calc_metrics.py:295-304). Driver-side by design:
    a dense raster is only useful at single-scene size; the distributed
    artifact is the parquet table."""
    pdf = (
        pp.where(F.col("scene") == scene)
        .groupBy("px", "py").agg(F.max("pp").alias("pp"))  # section overlap -> one value
        .toPandas()
    )
    out = np.zeros((grid["h"], grid["w"]), dtype=np.float64)
    if len(pdf):
        out[pdf["py"].to_numpy(), pdf["px"].to_numpy()] = pdf["pp"].to_numpy()
    return out


# per-worker memo for the K1 export's out-of-AOI raster: a pure
# function of (AOI lines, buffer, grid) that was recomputed inside
# every (scene, date) group — the dominant cost of a many-date export.
# Same reference-identity + content-digest pattern as
# decode._RINGS_DIGEST_MEMO (bare id() could alias a recycled address).
_AOI_RASTER_MEMO: dict[int, tuple] = {}
_AOI_RASTERS: dict[tuple, np.ndarray] = {}


def _aoi_outside_raster(aoi_lines: list, aoi_buffer: float, gx0: float,
                        gy0: float, ps: float, h: int, w: int) -> np.ndarray:
    from ..functions import geometry

    memo = _AOI_RASTER_MEMO.get(id(aoi_lines))
    if memo is not None and memo[0] is aoi_lines:
        digest = memo[1]
    else:
        import hashlib

        hsh = hashlib.sha1()
        for lx, ly in aoi_lines:
            hsh.update(np.ascontiguousarray(lx, dtype=np.float64).tobytes())
            hsh.update(np.ascontiguousarray(ly, dtype=np.float64).tobytes())
        digest = hsh.hexdigest()
        if len(_AOI_RASTER_MEMO) > 64:
            _AOI_RASTER_MEMO.clear()
        _AOI_RASTER_MEMO[id(aoi_lines)] = (aoi_lines, digest)
    key = (digest, float(aoi_buffer), float(gx0), float(gy0), float(ps), h, w)
    out = _AOI_RASTERS.get(key)
    if out is None:
        yy, xx = np.mgrid[0:h, 0:w]
        cx = gx0 + (xx.ravel() + 0.5) * ps
        cy = gy0 - (yy.ravel() + 0.5) * ps
        out = (geometry.min_dist_to_polylines(cx, cy, aoi_lines)
               > aoi_buffer).reshape(h, w)
        if len(_AOI_RASTERS) >= 8:
            _AOI_RASTERS.pop(next(iter(_AOI_RASTERS)))
        _AOI_RASTERS[key] = out
    return out


def write_date_mask_geotiffs(mask_points: DataFrame, grid: dict, outdir: str,
                             aoi: tuple[list, float] | None = None,
                             flat: bool | None = None) -> DataFrame:
    """K1 file sink: one ``YYYY-MM-DD.tif`` per (scene, date), LZW —
    the reference's module-1 export (src/utils/wd_batch.py:584-588:
    ``rio.to_raster(outdir/date.tif, compress='lzw')``), re-readable by
    ``api.calculate_metrics`` / ``read_wmask_tifs`` as the module-2
    entry, closing the module1 -> files -> module2 loop.

    Fully distributed: groupBy(scene, date) over the mask-point table
    (summary rows included, so ALL-DRY dates still get a file) ->
    ``applyInPandas`` densifies the sparse points into the (h, w)
    int16 raster ({1 water, 0 dry, -1 nodata}, nodata=-1 like
    ``wd_mask``'s ``write_nodata(-1)``) and writes the GeoTIFF bytes
    executor-side. On a cluster ``outdir`` must be shared storage
    (the same contract as any Spark file sink). Returns the manifest
    (scene, date, path, n_bytes) — call an action on it to execute.

    ``aoi``: (lines, buffer_m) from the module-1 run — decode DROPS
    out-of-AOI pixels entirely, so without it clipped pixels would
    densify as 0 (dry); passing it restores the reference's clip
    semantics (outside-buffer => nodata -1 in the file).

    ``flat``: files go to ``outdir/DATE.tif`` (the reference's layout)
    when True, ``outdir/SCENE/DATE.tif`` when False; default None
    auto-selects flat iff the table has exactly one scene (one tiny
    distinct action)."""
    import os

    from ..kernels import geotiff

    gx0, gy0, ps = float(grid["gx0"]), float(grid["gy0"]), float(grid["ps"])
    h, w = int(grid["h"]), int(grid["w"])
    if flat is None:
        flat = mask_points.select("scene").distinct().count() == 1
    aoi_lines, aoi_buffer = None, 0.0
    if aoi is not None:
        aoi_lines = [(np.asarray(lx, dtype=np.float64), np.asarray(ly, dtype=np.float64))
                     for lx, ly in aoi[0]]
        aoi_buffer = float(aoi[1])

    def emit(key, pdf):
        scene, date = key
        ds = pd.Timestamp(date).strftime("%Y-%m-%d")
        dense = np.zeros((h, w), dtype=np.int16)
        real = pdf[pdf["px"] >= 0]  # summary rows are px = py = -1
        if len(real):
            dense[real["py"].to_numpy(), real["px"].to_numpy()] = \
                real["value"].to_numpy().astype(np.int16)
        if aoi_lines is not None:
            # date-independent: one distance sweep per worker per
            # (AOI, grid), not one per exported date
            dense[_aoi_outside_raster(aoi_lines, aoi_buffer, gx0, gy0, ps, h, w)] = -1
        buf = geotiff.write_geotiff(dense[None, :, :], dict(gx0=gx0, gy0=gy0, ps=ps),
                                    nodata=-1.0, compress="lzw")
        sub = outdir if flat else os.path.join(outdir, str(scene))
        os.makedirs(sub, exist_ok=True)
        path = os.path.join(sub, f"{ds}.tif")
        with open(path, "wb") as f:
            f.write(buf)
        return pd.DataFrame({"scene": [str(scene)], "date": [ds],
                             "path": [path], "n_bytes": [len(buf)]})

    return mask_points.groupBy("scene", "date").applyInPandas(
        emit, "scene string, date string, path string, n_bytes long")


def write_persistence_geotiff(pp: DataFrame, grid: dict, scene: str, path: str) -> None:
    """K2 file sink: the reference's Pixel_Persistence.tif
    (src/irm_main.py:228-233, rio.to_raster) — dense per-scene raster
    through the from-scratch GeoTIFF writer. Never-wet pixels are 0.0
    (below both persistence thresholds), matching persistence_raster.

    Single-scene convenience; the multi-scene path is
    :func:`write_persistence_geotiffs` (one executor-side write per
    scene instead of one driver job per scene)."""
    from ..kernels import geotiff

    raster = persistence_raster(pp, grid, scene)
    # compress='lzw' mirrors the reference's export exactly
    # (src/utils/wd_batch.py:584-588)
    buf = geotiff.write_geotiff(raster.astype(np.float32)[None, :, :],
                                dict(gx0=grid["gx0"], gy0=grid["gy0"], ps=grid["ps"]),
                                nodata=0.0, compress="lzw")
    with open(path, "wb") as f:
        f.write(buf)


def write_persistence_geotiffs(pp: DataFrame, grid: dict, outdir: str,
                               flat: bool | None = None) -> DataFrame:
    """Distributed K2 sink: ``Pixel_Persistence[_scene].tif`` for EVERY
    scene in one ``groupBy(scene).applyInPandas`` pass (the
    write_date_mask_geotiffs pattern) — the r5-VERDICT scale seam was a
    driver for-loop launching one Spark job + one driver-side densify
    per scene (api.py), serial at 10^4+ scenes.

    Per-pixel value = max(pp) over overlapping sections, densified
    executor-side into the (h, w) float32 raster with 0.0 never-wet
    fill — the exact expression ``persistence_raster`` uses, so the
    single-scene file is byte-identical to ``write_persistence_geotiff``
    (pinned by tests/test_file_sinks.py). ``flat=True`` names the file
    ``Pixel_Persistence.tif`` (the reference's single-scene layout);
    default None auto-selects flat iff one scene. On a cluster
    ``outdir`` must be shared storage. Returns the (scene, path,
    n_bytes) manifest — call an action on it to execute."""
    import os

    from ..kernels import geotiff

    gx0, gy0, ps = float(grid["gx0"]), float(grid["gy0"]), float(grid["ps"])
    h, w = int(grid["h"]), int(grid["w"])
    if flat is not False:
        # count also when the CALLER forced flat=True: multiple scene
        # groups would then race concurrent writes of the same path
        # (silent last-writer-wins) — refuse instead
        n_scenes = pp.select("scene").distinct().count()
        if flat and n_scenes > 1:
            raise ValueError(
                f"flat=True but {n_scenes} scenes share the frame — every "
                "executor group would overwrite the same Pixel_Persistence.tif")
        if flat is None:
            flat = n_scenes == 1

    def emit(key, pdf):
        (scene,) = key
        # section overlap -> one value per pixel (max), like
        # persistence_raster's groupBy(px, py).max(pp)
        ded = pdf.groupby(["px", "py"], as_index=False)["pp"].max()
        dense = np.zeros((h, w), dtype=np.float64)
        if len(ded):
            dense[ded["py"].to_numpy(), ded["px"].to_numpy()] = ded["pp"].to_numpy()
        buf = geotiff.write_geotiff(dense.astype(np.float32)[None, :, :],
                                    dict(gx0=gx0, gy0=gy0, ps=ps),
                                    nodata=0.0, compress="lzw")
        name = "Pixel_Persistence.tif" if flat else f"Pixel_Persistence_{scene}.tif"
        os.makedirs(outdir, exist_ok=True)
        path = os.path.join(outdir, name)
        with open(path, "wb") as f:
            f.write(buf)
        return pd.DataFrame({"scene": [str(scene)], "path": [path],
                             "n_bytes": [len(buf)]})

    return pp.groupBy("scene").applyInPandas(
        emit, "scene string, path string, n_bytes long")


def write_vector_shapefiles(polygons: DataFrame, lines: DataFrame, points: DataFrame,
                            outdir: str) -> None:
    """K4 file sinks: irm_Polygons.shp / irm_Lines.shp / irm_Points.shp
    (src/irm_main.py:217-226) through the from-scratch shapefile
    writer. Driver-side by nature (a shapefile is one file); the
    parquet geometry tables remain the distributed artifacts."""
    import os

    from ..kernels import shapefile as shpk

    def _dump(files: dict, base: str):
        for ext, buf in files.items():
            with open(os.path.join(outdir, f"{base}.{ext}"), "wb") as f:
                f.write(buf)

    poly = polygons.toPandas()
    shapes = [[(np.asarray(rx), np.asarray(ry))] for rx, ry in zip(poly.ring_x, poly.ring_y)]
    fields = [("Date", "C", 10, 0), ("Section", "C", 16, 0), ("Type", "C", 8, 0),
              ("area_m2", "N", 18, 4), ("area_km2", "N", 18, 8)]
    recs = list(zip(poly.Date, poly.Section, poly.Type,
                    poly.area_m2, poly.area_km2))
    _dump(shpk.write_shapefile(shpk.POLYGON, shapes, fields, recs), "irm_Polygons")

    ln = lines.toPandas()
    shapes = [[(np.asarray(lx), np.asarray(ly))] for lx, ly in zip(ln.line_x, ln.line_y)]
    fields = [("date", "C", 10, 0), ("section", "C", 16, 0),
              ("label", "N", 10, 0), ("length_km", "N", 18, 6)]
    recs = list(zip(ln.date, ln.section, ln.label, ln.length_km))
    _dump(shpk.write_shapefile(shpk.POLYLINE, shapes, fields, recs), "irm_Lines")

    pt = points.toPandas()
    shapes = list(zip(pt.x, pt.y))
    fields = [("Date", "C", 10, 0), ("section", "C", 16, 0),
              ("line", "N", 10, 0), ("Type", "C", 12, 0)]
    recs = list(zip(pt.Date, pt.section, pt.line, pt.Type))
    _dump(shpk.write_shapefile(shpk.POINT, shapes, fields, recs), "irm_Points")


def pool_polygons(water_joined: DataFrame, reaches: list[dict], grid: dict,
                  min_pool_size: int = 2) -> DataFrame:
    """M8: polygonized pools per (scene, section, date)."""
    offsets = clip_offsets(reaches, grid)
    ps, gx0, gy0 = grid["ps"], grid["gx0"], grid["gy0"]

    def kernel(key, pdf):
        scene, section, ds = key
        c0, r0, ncols, nrows = offsets[section]
        if ncols == 0 or nrows == 0:
            return empty_rows(POLY_SCHEMA)
        clip = np.zeros((nrows, ncols), dtype=np.int8)
        clip[pdf["py"].to_numpy() - r0, pdf["px"].to_numpy() - c0] = 1
        labeled = ccl.remove_small(ccl.label8(clip)[0], min_pool_size)
        out = []
        for rec in polygonize.polygons_from_mask(labeled != 0):
            area_m2 = float(rec["n_pixels"]) * ps * ps
            if area_m2 < min_pool_size * ps * ps:
                continue  # F9 min-area polygon filter
            ext = rec["exterior"]
            # pixel-corner coords -> CRS (corner (cx, cy) of the clip frame)
            rx = gx0 + (ext[:, 0] + c0) * ps
            ry = gy0 - (ext[:, 1] + r0) * ps
            out.append(dict(
                scene=scene, Date=ds, Section=section, Type="Pool",
                area_m2=area_m2, area_km2=area_m2 / 1e6,
                ring_x=rx.tolist(), ring_y=ry.tolist(),
            ))
        return pd.DataFrame(out) if out else empty_rows(POLY_SCHEMA)

    return water_joined.groupBy("scene", "section", "ds").applyInPandas(kernel, POLY_SCHEMA)


def pool_lines(pools: DataFrame, grid: dict) -> DataFrame:
    """M10 lines: centerline paths with > 1 point -> CRS LineStrings."""
    ps, gx0, gy0 = grid["ps"], grid["gx0"], grid["gy0"]
    good = pools.where(F.size("path_px") > 1)  # F10
    to_x = F.transform("path_px", lambda p: F.lit(gx0) + (p.cast("double") + 0.5) * F.lit(ps))
    to_y = F.transform("path_py", lambda p: F.lit(gy0) - (p.cast("double") + 0.5) * F.lit(ps))
    return good.select(
        "scene", F.col("ds").alias("date"), "section", "label", "length_km",
        to_x.alias("line_x"), to_y.alias("line_y"),
    )


def line_points(lines: DataFrame) -> DataFrame:
    """M10 points: start / end / length-midpoint per line (3 rows each)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for rec in pdf.itertuples(index=False):
            xs = np.asarray(rec.line_x, dtype=np.float64)
            ys = np.asarray(rec.line_y, dtype=np.float64)
            seg = np.hypot(np.diff(xs), np.diff(ys))
            cum = np.concatenate([[0.0], np.cumsum(seg)])
            half = cum[-1] / 2.0
            i = int(np.searchsorted(cum, half, side="right") - 1)
            i = min(i, xs.shape[0] - 2)
            t = 0.0 if seg[i] == 0 else (half - cum[i]) / seg[i]
            mx = xs[i] + t * (xs[i + 1] - xs[i])
            my = ys[i] + t * (ys[i + 1] - ys[i])
            for typ, x, y in (
                ("coord_start", xs[0], ys[0]),
                ("coord_end", xs[-1], ys[-1]),
                ("mid_point", mx, my),
            ):
                rows.append(dict(scene=rec.scene, Date=rec.date, section=rec.section,
                                 line=int(rec.label), Type=typ, x=float(x), y=float(y)))
        return pd.DataFrame(rows) if rows else pd.DataFrame(
            {c.split()[0]: [] for c in POINT_SCHEMA.split(", ")}
        )

    return lines.mapInPandas(lambda it: (kernel(pdf) for pdf in it), POINT_SCHEMA)
