"""Per-(scene, section, date) morphology: pools -> rows (M1-M6, J3).

The reference runs CCL/skeleton/EDT per feature-clip layer inside dask
tasks (src/utils/calc_metrics.py:669-722, 725-806); the engine's
equivalent grain is an ``applyInPandas`` group keyed (scene, section,
date): each group rebuilds its dense bbox clip from the joined water
points (bbox offsets are broadcast per-section metadata) and runs the
shared summarize_clip kernel. Pools are tens-to-hundreds of pixels, so
groups are small and uniform; AQE handles count skew across dates.

Output pool rows keep the path as global pixel coordinate arrays for
the line/point exports. (scene, section, date) pairs with zero water
never form a group — the metrics fold right-joins the full dimension
grid and applies the reference's zero-pool branch there.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import blocks

POOLS_SCHEMA = (
    "scene string, ds string, section string, label int, length_km double, "
    "width_km double, area_km2 double, perimeter_km double, "
    "centroid_x double, centroid_y double, "
    "path_py array<int>, path_px array<int>"
)


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


def pool_rows(water_joined: DataFrame, reaches: list[dict], grid: dict,
              min_pool_size: int = 2) -> DataFrame:
    """water_joined: (scene, ds, section, px, py) -> per-pool rows."""
    offsets = clip_offsets(reaches, grid)
    pixel_size = grid["ps"]

    gx0, gy0, ps = grid["gx0"], grid["gy0"], grid["ps"]

    def kernel(key, pdf):
        scene, section, ds = key
        c0, r0, ncols, nrows = offsets[section]
        if ncols == 0 or nrows == 0:
            return empty_rows(POOLS_SCHEMA)
        clip = np.zeros((nrows, ncols), dtype=np.int8)
        clip[pdf["py"].to_numpy() - r0, pdf["px"].to_numpy() - c0] = 1
        rows = blocks.summarize_clip(clip, min_pool_size, pixel_size)
        out = []
        for row in rows:
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
        return pd.DataFrame(out)

    return water_joined.groupBy("scene", "section", "ds").applyInPandas(kernel, POOLS_SCHEMA)
