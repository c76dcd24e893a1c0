"""Per-(scene, section) kernel: zonal membership, pool morphology
(M1-M6, J3) and pixel persistence (A1) in one grouped map.

The reference clips each feature into a dense block and runs
CCL/skeleton/EDT per clip layer (src/utils/calc_metrics.py:669-722,
725-806). Here one ``applyInPandas`` group per (scene, section) gets
the filled water rows of the section's cover cells, builds the exact
membership mask over its bbox clip once, runs ``summarize_clip`` date
by date through one reused clip, and counts each pixel's wet dates.
One group holds the section's water rows for every kept date of one
scene, one int8 clip and one wet count per clip pixel — never a
(date, y, x) cube.

Output pool rows keep the path as global pixel coordinate arrays for
the line/point exports. Dates on which a section has no member water
emit no pool row — the metrics fold right-joins the full dimension grid
and applies the reference's zero-pool branch there.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import blocks
from . import zonal

POOLS_SCHEMA = (
    "scene string, ds string, section string, label int, length_km double, "
    "width_km double, area_km2 double, perimeter_km double, "
    "centroid_x double, centroid_y double, "
    "path_py array<int>, path_px array<int>"
)
# section_rows' tagged output: pool rows, then persistence rows (px, py, wet, pp)
SECTION_SCHEMA = "is_pool boolean, " + POOLS_SCHEMA + ", px int, py int, wet long, pp double"
POOLS_COLUMNS, SECTION_COLUMNS = ([c.split(" ", 1)[0] for c in schema.split(", ")]
                                  for schema in (POOLS_SCHEMA, SECTION_SCHEMA))


def empty_rows(schema: str) -> pd.DataFrame:
    """Zero-row frame whose column dtypes Arrow can cast to ``schema``
    (an untyped empty column is float64, which has no cast to array)."""
    dtypes = {"int": "int32", "long": "int64", "double": "float64"}
    return pd.DataFrame({name: pd.Series(dtype=dtypes.get(t, "object"))
                         for name, t in (c.split(" ", 1) for c in schema.split(", "))})


def clip_offsets(reaches: list[dict], grid: dict) -> dict[str, tuple[int, int, int, int]]:
    """Per-section bbox clip (c0, r0, ncols, nrows) under the reference
    clip rule: pixel centers within polygon bounds
    (src/utils/calc_metrics.py:420-424)."""
    ps, gx0, gy0, w, h = grid["ps"], grid["gx0"], grid["gy0"], grid["w"], grid["h"]
    xs = gx0 + (np.arange(w) + 0.5) * ps
    ys = gy0 - (np.arange(h) + 0.5) * ps
    out = {}
    for r in reaches:
        ci = np.nonzero((xs >= r["xmin"]) & (xs <= r["xmax"]))[0]
        ri = np.nonzero((ys >= r["ymin"]) & (ys <= r["ymax"]))[0]
        if ci.size == 0 or ri.size == 0:
            # degenerate reach: bbox contains no pixel centers — the
            # reference yields an empty clip, not a crash
            out[r["section"]] = (0, 0, 0, 0)
            continue
        out[r["section"]] = (int(ci[0]), int(ri[0]), int(ci.size), int(ri.size))
    return out


def pool_records(scene: str, section: str, ds: str, clip: np.ndarray, c0: int, r0: int,
                 min_pool_size: int, grid: dict) -> list[dict]:
    """One (scene, section, date) clip -> its POOLS_SCHEMA rows, the
    path in global pixel coordinates and the centroid in CRS units."""
    gx0, gy0, ps = grid["gx0"], grid["gy0"], grid["ps"]
    out = []
    for row in blocks.summarize_clip(clip, min_pool_size, ps):
        path = row.pop("path")
        if path is None or path.shape[0] == 0:
            ppy, ppx = [], []
        else:
            ppy = (path[:, 0] + r0).astype(int).tolist()
            ppx = (path[:, 1] + c0).astype(int).tolist()
        # true pool-pixel centroid, clip frame -> CRS (pixel centers)
        cy, cx = row.pop("centroid_py"), row.pop("centroid_px")
        row["centroid_x"] = gx0 + (cx + c0 + 0.5) * ps
        row["centroid_y"] = gy0 - (cy + r0 + 0.5) * ps
        out.append(dict(scene=scene, ds=ds, section=section, path_py=ppy, path_px=ppx, **row))
    return out


def section_rows(water: DataFrame, reaches: list[dict], grid: dict,
                 min_pool_size: int = 2) -> DataFrame:
    """water: (scene, ds, px, py, section, n_kept) -> SECTION_SCHEMA rows.

    ``section`` is a cover candidate (the cell join); the kernel keeps
    a row only if the pixel is a member of the section
    (``zonal.member_all_touched``, evaluated once per group over the
    clip window). Pool rows are tagged ``is_pool``; the others are the
    per-pixel persistence rows of ever-wet pixels.
    """
    offsets = clip_offsets(reaches, grid)
    by_section = {r["section"]: r for r in reaches}
    gx0, gy0, ps = grid["gx0"], grid["gy0"], grid["ps"]

    def kernel(key, pdf):
        scene, section = key
        c0, r0, ncols, nrows = offsets[section]  # (0, 0, 0, 0): nothing is kept
        PX, PY = np.meshgrid(np.arange(c0, c0 + ncols), np.arange(r0, r0 + nrows))
        member = zonal.member_all_touched(gx0 + (PX + 0.5) * ps, gy0 - (PY + 0.5) * ps,
                                          by_section[section], ps)
        y = pdf["py"].to_numpy(dtype=np.int64) - r0
        x = pdf["px"].to_numpy(dtype=np.int64) - c0
        keep = (y >= 0) & (y < nrows) & (x >= 0) & (x < ncols)
        keep[keep] = member[y[keep], x[keep]]
        if not keep.any():
            return empty_rows(SECTION_SCHEMA)
        y, x, ds = y[keep], x[keep], pdf["ds"].to_numpy()[keep]
        # one clip, reused date by date: no (date, y, x) cube
        clip = np.zeros((nrows, ncols), dtype=np.int8)
        order = np.argsort(ds, kind="stable")
        dates, starts = np.unique(ds[order], return_index=True)
        pools = []
        for d, rows in zip(dates, np.split(order, starts[1:])):
            clip[:] = 0
            clip[y[rows], x[rows]] = 1
            pools.extend(pool_records(scene, section, d, clip, c0, r0, min_pool_size, grid))
        wet = np.bincount(y * ncols + x, minlength=nrows * ncols)
        ever = np.nonzero(wet)[0]
        persist = pd.DataFrame({
            "is_pool": False, "scene": scene, "ds": None, "section": section,
            "path_py": None, "path_px": None,
            "px": (ever % ncols + c0).astype(np.int32),
            "py": (ever // ncols + r0).astype(np.int32),
            "wet": wet[ever],
            "pp": wet[ever] / int(pdf["n_kept"].iloc[0]),
        })
        return pd.concat([pd.DataFrame(pools).assign(is_pool=True), persist],
                         ignore_index=True)[SECTION_COLUMNS]

    return water.groupBy("scene", "section").applyInPandas(kernel, SECTION_SCHEMA)
