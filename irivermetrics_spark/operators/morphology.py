"""Per-(scene, section) kernel: zonal membership, pool morphology
(M1-M6, J3), pixel persistence (A1-A3) and the metric fold's sums (A7)
in one grouped map.

The reference clips each feature into a dense block and runs
CCL/skeleton/EDT per clip layer (src/utils/calc_metrics.py:669-722,
725-806). Here one ``applyInPandas`` group per (scene, section) gets
the filled water rows of the section's cover cells, builds the exact
membership mask over its bbox clip once, runs ``summarize_clip`` date
by date through one reused clip, and counts each pixel's wet dates.
One group holds the section's water rows for every kept date of one
scene, one int8 clip and one wet count per clip pixel — never a
(date, y, x) cube.

The group already holds every pool row and every persistence pixel of
its (scene, section), so it also pre-aggregates them: per date the
nine sums ``metrics.fold`` divides, per section ``pp_mean`` and
``ra_area`` (A1-A3, src/utils/calc_metrics.py:295-304, 655-667). The
sums are Spark's SQL aggregates, evaluated as Spark evaluates them for
one group in one task (:func:`fold_sums`), so the fold is a join.

Output pool rows keep the path as global pixel coordinate arrays for
the line/point exports. Dates on which a section has no member water
emit no pool or sums row — the metrics fold left-joins them onto the
full dimension grid and applies the reference's zero-pool branch there.
"""

from __future__ import annotations

import math

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
# metrics.fold's nine per-(scene, ds, section) sums over pool rows
SUMS_SCHEMA = (
    "n_rows long, sum_area double, sum_len double, sum_perim double, awmsi_num double, "
    "awmpa_num double, awre_num double, awmpl_num double, awmpw_num double"
)
# section_rows' output, one tagged row kind each:
#   POOL: a POOLS_SCHEMA row;
#   PIXEL: (scene, section, px, py, wet, pp) of an ever-wet pixel;
#   SUMS: (scene, ds, section) + SUMS_SCHEMA, one per date with pool rows;
#   PERSISTENCE: (scene, section, pp_mean, ra_area), one per group.
POOL, PIXEL, SUMS, PERSISTENCE = range(4)
SECTION_SCHEMA = (f"kind tinyint, {POOLS_SCHEMA}, px int, py int, wet long, pp double, "
                  f"{SUMS_SCHEMA}, pp_mean double, ra_area double")
POOLS_COLUMNS, SUMS_COLUMNS, SECTION_COLUMNS = (
    [c.split(" ", 1)[0] for c in schema.split(", ")]
    for schema in (POOLS_SCHEMA, SUMS_SCHEMA, SECTION_SCHEMA))


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


def _sql_sum(values) -> float | None:
    """Spark's double ``sum`` of one group in one task: NULLs (None)
    skipped, left to right from 0.0 (not numpy's pairwise ``np.sum``),
    NULL when no value is left."""
    acc = None
    for v in values:
        if v is not None:
            acc = (0.0 if acc is None else acc) + v
    return acc


def _fold_terms(row: dict) -> tuple:
    """One pool row's eight ``CASE WHEN area_km2 > 0 THEN ... ELSE 0.0D
    END`` summands of ``metrics.fold``, in its expression order.

    A pandas NaN crosses the Arrow boundary as SQL NULL, so a NaN area
    (a skeleton component without an area row) fails ``> 0`` and NULL
    operands give NULL. A zero length under a positive area raises
    ZeroDivisionError where ANSI Spark raises DIVIDE_BY_ZERO."""
    a, l, p, w = (None if v != v else float(v) for v in
                  (row["area_km2"], row["length_km"], row["perimeter_km"], row["width_km"]))
    if a is None or not a > 0:
        return (0.0,) * 8
    r = math.sqrt(a)
    awre = None if l is None else 2.0 * r / math.pi / l * a
    return (a, l, p,
            None if p is None else 0.25 * p / r * a,
            a * a,
            None if awre is None else (0.0 if awre != awre else awre),  # nanvl
            None if l is None else l * a,
            None if w is None else w * a)


def fold_sums(pools: list[dict]) -> dict:
    """SUMS_SCHEMA over one (scene, ds, section)'s pool rows, in their
    output order: bit for bit what Spark's SQL aggregate of the same
    rows returns (tests/fold_oracle.py)."""
    sums = [_sql_sum(col) for col in zip(*map(_fold_terms, pools))]
    return dict(zip(SUMS_COLUMNS, [len(pools), *sums]))


def persistence_summary(pp: np.ndarray, pixel_size: float) -> dict:
    """(pp_mean, ra_area) of one (scene, section)'s per-pixel pp, in
    output order: ``avg(CASE WHEN pp > 0.1D THEN pp END)`` (NaN, i.e.
    NULL in Spark, when empty) and ``COALESCE(sum(CASE WHEN pp > 0.9D
    THEN pp END), 0.0D) * pixel_area_km2``."""
    mid, high = pp[pp > 0.1].tolist(), pp[pp > 0.9].tolist()
    return dict(pp_mean=_sql_sum(mid) / len(mid) if mid else math.nan,
                ra_area=(_sql_sum(high) if high else 0.0) * (pixel_size**2 / 1e6))


def section_rows(water: DataFrame, reaches: list[dict], grid: dict,
                 min_pool_size: int = 2) -> DataFrame:
    """water: (scene, ds, px, py, section, n_kept) -> SECTION_SCHEMA rows.

    ``section`` is a cover candidate (the cell join); the kernel keeps
    a row only if the pixel is a member of the section
    (``zonal.member_all_touched``, evaluated once per group over the
    clip window). ``n_kept`` is the scene's kept-date count, the
    denominator of pp. The row kinds are listed at SECTION_SCHEMA.
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
        pools, sums = [], []
        for d, rows in zip(dates, np.split(order, starts[1:])):
            clip[:] = 0
            clip[y[rows], x[rows]] = 1
            recs = pool_records(scene, section, d, clip, c0, r0, min_pool_size, grid)
            pools.extend(recs)
            sums.append(dict(kind=SUMS, scene=scene, ds=d, section=section,
                             path_py=None, path_px=None, **fold_sums(recs)))
        wet = np.bincount(y * ncols + x, minlength=nrows * ncols)
        ever = np.nonzero(wet)[0]
        pp = wet[ever] / int(pdf["n_kept"].iloc[0])
        persist = pd.DataFrame({
            "kind": PIXEL, "scene": scene, "ds": None, "section": section,
            "path_py": None, "path_px": None,
            "px": (ever % ncols + c0).astype(np.int32),
            "py": (ever // ncols + r0).astype(np.int32),
            "wet": wet[ever],
            "pp": pp,
        })
        # the array converter takes None, not NaN, for a missing path
        summary = dict(kind=PERSISTENCE, scene=scene, section=section, path_py=None,
                       path_px=None, **persistence_summary(pp, ps))
        return pd.concat([pd.DataFrame(pools).assign(kind=POOL), pd.DataFrame(sums),
                          persist, pd.DataFrame([summary])],
                         ignore_index=True)[SECTION_COLUMNS]

    return water.groupBy("scene", "section").applyInPandas(kernel, SECTION_SCHEMA)
