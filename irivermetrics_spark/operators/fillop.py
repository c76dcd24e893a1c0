"""Preprocess operators: validity filter (F6) + temporal fill (J6/W1).

F6 — drop dates with < 70 % valid in-corridor pixels (reference:
src/utils/calc_metrics.py:499-517): nodata points are corridor-joined
(broadcast cover + exact center-rule refine), counted per (scene,
date), and the date dimension is filtered by ratio — the semi-join
formulation of the reference's boolean time mask.

Fill — the reference's sequential reflect-padded nodata fill
(src/utils/calc_metrics.py:522-590) is per-pixel along time, so the
engine groups points by (scene, fill_cell) — a hex cell at
``FILL_RES_DEFAULT`` (res 8, a few hundred corridor pixels) — and
runs the exact fill kernel per group via ``applyInPandas``. The kernel
*recomputes its pixel universe from the cell id* (pixels whose center
lies in the cell AND in the dissolved corridor): no driver-side pixel
tables, no second shuffle for densification; dry pixels materialize
only transiently inside the kernel. Nodata inside the corridor becomes
the fillable value 2 (reference :491); after filling, everything != 1
binarizes to 0 (reference :585-590), which is also why the reference's
post-fill >= 95 % check (F7) never fires — it runs on binarized data;
reproduced by construction.

The >= 70 %/>= 95 % thresholds and the [+1,+2,-1,-2] offset order are
reference quirks, not tunables.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cellindex, geometry
from ..kernels import fill as fillk
from . import morphology, zonal

FILL_RES_DEFAULT = 8


_UNIVERSE_MEMO: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}
_UNIVERSE_MEMO_CAP = 65536


def _cell_universe(cell: int, rings: list, grid: dict) -> tuple[np.ndarray, np.ndarray]:
    """All corridor pixels whose center falls in this hex cell.

    Pure function of (cell id, rings, grid): every kernel can rebuild
    its own universe — the trick that keeps densification shuffle-free.
    Memoized per worker: the fill stage calls it once per (scene, cell)
    GROUP, so every scene sharing a corridor re-derived the same cell's
    pixel set (32x duplicate meshgrid+PIP work at bench shape).
    """
    key = (int(cell), geometry.coords_digest(rings),
           tuple(sorted((k, float(v)) for k, v in grid.items())))
    hit = _UNIVERSE_MEMO.get(key)
    if hit is not None:
        return hit
    ps, gx0, gy0, w, h = grid["ps"], grid["gx0"], grid["gy0"], grid["w"], grid["h"]
    cx, cy = cellindex.hex_center(np.asarray([cell]))
    _, res, _, _ = cellindex._unpack(np.asarray([cell]))
    edge = cellindex.hex_edge(int(res[0]))
    # candidate pixel index window around the cell (circumradius = edge)
    px_lo = max(0, int(np.floor((cx[0] - edge - gx0) / ps - 0.5)) - 1)
    px_hi = min(w - 1, int(np.ceil((cx[0] + edge - gx0) / ps - 0.5)) + 1)
    py_lo = max(0, int(np.floor((gy0 - (cy[0] + edge)) / ps - 0.5)) - 1)
    py_hi = min(h - 1, int(np.ceil((gy0 - (cy[0] - edge)) / ps - 0.5)) + 1)
    if px_hi < px_lo or py_hi < py_lo:
        out = (np.empty(0, np.int32), np.empty(0, np.int32))
        if len(_UNIVERSE_MEMO) >= _UNIVERSE_MEMO_CAP:
            _UNIVERSE_MEMO.clear()
        _UNIVERSE_MEMO[key] = out
        return out
    pxs = np.arange(px_lo, px_hi + 1, dtype=np.int32)
    pys = np.arange(py_lo, py_hi + 1, dtype=np.int32)
    PX, PY = np.meshgrid(pxs, pys)
    PX, PY = PX.ravel(), PY.ravel()
    x = gx0 + (PX + 0.5) * ps
    y = gy0 - (PY + 0.5) * ps
    mine = cellindex.hex_cell(x, y, int(res[0])) == cell
    PX, PY, x, y = PX[mine], PY[mine], x[mine], y[mine]
    member = np.zeros(PX.shape[0], dtype=bool)
    for ring_x, ring_y in rings:
        todo = ~member
        if not todo.any():
            break
        member[todo] = geometry.point_in_polygon(x[todo], y[todo], ring_x, ring_y)
    out = (PX[member], PY[member])
    if len(_UNIVERSE_MEMO) >= _UNIVERSE_MEMO_CAP:
        _UNIVERSE_MEMO.clear()
    _UNIVERSE_MEMO[key] = out
    return out


_CORRIDOR_COUNT_CACHE: dict = {}


def rings_content_key(reaches: list[dict]) -> str:
    """Content hash of the full ring coordinate arrays — coordinate-sum
    keys collide for distinct layers with equal sums (ADVICE r1)."""
    import hashlib

    h = hashlib.sha1()
    for r in sorted(reaches, key=lambda r: str(r["section"])):
        h.update(str(r["section"]).encode())
        h.update(np.ascontiguousarray(r["ring_x"], dtype=np.float64).tobytes())
        h.update(np.ascontiguousarray(r["ring_y"], dtype=np.float64).tobytes())
    return h.hexdigest()


def corridor_pixel_count(spark: SparkSession, corridor_cover: DataFrame, reaches: list[dict], grid: dict,
                         res: int = 9, aoi: tuple[list, float] | None = None) -> int:
    """Total corridor pixel count — distributed sum of per-cell universes.

    Memoized per (reaches content hash, grid, res, aoi): the count is a
    constant of the polygon layer + grid, so reruns (warmup, resumes)
    skip the job.

    ``aoi``: (lines, buffer_m) — count only corridor pixels within the
    module-1 buffered AOI. The F6 gate on AOI-clipped masks treats
    corridor pixels OUTSIDE the buffer as invalid (the reference's
    rio.clip makes them nodata before validation); the caller derives
    that constant offset as full_count - aoi_count.
    """
    aoi_key = None if aoi is None else (geometry.coords_digest(aoi[0]), float(aoi[1]))
    key = (rings_content_key(reaches), tuple(sorted(grid.items())), res, aoi_key)
    if key in _CORRIDOR_COUNT_CACHE:
        return _CORRIDOR_COUNT_CACHE[key]
    rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"])) for r in reaches]
    aoi_lines = None
    if aoi is not None:
        aoi_lines = [(np.asarray(lx, dtype=np.float64), np.asarray(ly, dtype=np.float64))
                     for lx, ly in aoi[0]]
        aoi_buffer = float(aoi[1])
    gx0, gy0, ps = grid["gx0"], grid["gy0"], grid["ps"]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions import geometry

        for pdf in batches:
            counts = []
            for c in pdf["cell"]:
                ux, uy = _cell_universe(int(c), rings, grid)
                if aoi_lines is not None and ux.shape[0]:
                    cxs = gx0 + (ux + 0.5) * ps
                    cys = gy0 - (uy + 0.5) * ps
                    keep = geometry.min_dist_to_polylines(cxs, cys, aoi_lines) <= aoi_buffer
                    counts.append(int(keep.sum()))
                else:
                    counts.append(int(ux.shape[0]))
            yield pd.DataFrame({"n": counts})

    n = corridor_cover.select("cell").mapInPandas(kernel, "n long").agg(F.sum("n")).collect()[0][0] or 0
    _CORRIDOR_COUNT_CACHE[key] = int(n)
    return int(n)


def hex_cell_udf(res: int, grid: dict):
    """Column-level pixel->hex-cell function (vectorized pandas UDF)."""
    ps, gx0, gy0 = grid["ps"], grid["gx0"], grid["gy0"]

    @F.pandas_udf("long")
    def cell_of(px: pd.Series, py: pd.Series) -> pd.Series:
        x = gx0 + (px.to_numpy(dtype=np.float64) + 0.5) * ps
        y = gy0 - (py.to_numpy(dtype=np.float64) + 0.5) * ps
        return pd.Series(cellindex.hex_cell(x, y, res))

    return cell_of


def keep_dates_fused(summaries: DataFrame, dates: DataFrame, corridor_total: int,
                     threshold: float = 0.7, invalid_offset: int = 0) -> DataFrame:
    """F6 from decode-fused per-image summary rows (cell = n invalid
    in corridor): no second pass over the point table.

    Presence-only summary rows (cell == -1, emitted when module 1 ran
    without corridor polygons) are excluded from the count.

    ``invalid_offset``: constant per-date invalid pixels added on top —
    the corridor-outside-AOI pixel count when masks were AOI-clipped
    (reference semantics: clip first, then validate on the clipped cube,
    so clipped-away corridor pixels are nodata)."""
    invalid = (
        summaries.filter(F.col("cell") >= 0)
        .groupBy("scene", "date").agg(F.sum("cell").alias("n_invalid"))
    )
    return (
        dates.join(invalid, ["scene", "date"], "left")
        .withColumn("n_invalid", F.coalesce("n_invalid", F.lit(0)) + F.lit(int(invalid_offset)))
        .withColumn("ratio", (F.lit(corridor_total) - F.col("n_invalid")) / F.lit(corridor_total))
        .filter(F.col("ratio") >= threshold)
        .select("scene", "date")
    )


def keep_dates(points: DataFrame, dates: DataFrame, corridor_cover: DataFrame,
               reaches: list[dict], grid: dict, corridor_total: int,
               threshold: float = 0.7, invalid_offset: int = 0) -> DataFrame:
    """F6: (scene, date) rows passing the >= 70 % in-corridor validity bar.

    ``dates`` is the full (scene, date) dimension from the image table
    (dates with zero nodata points must survive the left join).
    ``invalid_offset``: see keep_dates_fused (AOI-clipped masks).
    """
    nodata = points.filter(F.col("value") == -1)
    in_corr = zonal.corridor_join(nodata, corridor_cover, reaches, grid)
    invalid = in_corr.groupBy("scene", "date").agg(F.count("*").alias("n_invalid"))
    return (
        dates.join(invalid, ["scene", "date"], "left")
        .withColumn("n_invalid", F.coalesce("n_invalid", F.lit(0)) + F.lit(int(invalid_offset)))
        .withColumn("ratio", (F.lit(corridor_total) - F.col("n_invalid")) / F.lit(corridor_total))
        .filter(F.col("ratio") >= threshold)
        .select("scene", "date")
    )


def drop_low_postfill(points: DataFrame, keys: list[str] | tuple[str, ...] = ("scene", "ds"),
                      threshold: float = 0.95, value_col: str = "value") -> DataFrame:
    """F7: the reference's POST-fill >= 95 % validity gate
    (src/utils/calc_metrics.py:592-611).

    ``points``: one row per in-corridor pixel observation with
    ``value_col`` == -1 marking a still-invalid (unfillable) pixel.
    Returns the surviving key rows with their post-fill ratio.

    On the engine's own fill output this is vacuous by construction —
    ``kernels.fill.binarize`` maps every non-water value to 0, exactly
    like the reference binarizes before its check, so no date can fail.
    The operator exists (and is tested on non-binarized input) so a
    user who disables binarization still gets the reference's gate.
    """
    key_cols = list(keys)
    ratio = (F.sum(F.when(F.col(value_col) != -1, 1).otherwise(0)) / F.count("*"))
    per = points.groupBy(*key_cols).agg(
        ratio.alias("postfill_ratio"),
        F.count("*").alias("n_points"),
    )
    return per.filter(F.col("postfill_ratio") >= threshold)


def filled_water(points: DataFrame, reaches: list[dict], grid: dict,
                 fill_res: int = FILL_RES_DEFAULT, fill_nodata: bool = True,
                 out_cell_res: int | None = None) -> DataFrame:
    """Temporal fill + binarize -> water point rows (value==1 only).

    points: decode output (scene, date, px, py, value in {1,-1}) already
    joined to the kept dimension so every row carries its scene-local
    time index ``t_idx`` and scene axis length ``n_t`` (two ints per
    row — the time axis itself never leaves the cluster; r2 VERDICT:
    the old scene->dates dict collected the FULL kept dimension onto
    the driver, GBs at 10^6 scenes x years of dates).

    One group per (scene, fill_res cell) holds an (n_t, cell pixels)
    int8 matrix; the fill is per pixel, so the cell size sets only the
    group count. The fill rewrites only fillable nodata, so each output
    (t, pixel) had an input row at t in its group: that row's ``date``
    names the output's ``ds``.
    fill_nodata: the reference's calculate_metrics(fill_nodata=...)
    switch (src/irm_main.py:126) — False skips the temporal fill and
    just binarizes (nodata pixels stay dry).
    out_cell_res: set when the output feeds the section kernel
    (``morphology.section_rows``); each row then also carries what
    that kernel needs beyond the pixel: the hex cell id at THIS res, computed in-kernel with
    the exact hex_cell_udf arithmetic (float64 center from int px/py),
    for the cover join, and the scene's axis length ``n_t`` as
    ``n_kept``, the persistence denominator. The fill kernel is
    already a Python stage over every output row, so attaching both
    here removes the separate ArrowEvalPython round-trip the caller
    otherwise pays to re-key the whole water table (guide §4.1: one
    boundary crossing instead of two), and the section kernel's second
    join against the kept dimension.
    Output: (scene, date string 'ds', px, py[, cell, n_kept]) water
    pixels after fill.
    """
    rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"])) for r in reaches]
    ps, gx0, gy0 = grid["ps"], grid["gx0"], grid["gy0"]
    out_schema = "scene string, ds string, px int, py int"
    if out_cell_res is not None:
        out_schema += ", cell long, n_kept long"

    def kernel(key, pdf):
        scene, cell = key[0], int(key[1])
        ux, uy = _cell_universe(cell, rings, grid)
        n_px = ux.shape[0]
        if n_px == 0:
            return morphology.empty_rows(out_schema)
        n_t = int(pdf["n_t"].iloc[0])
        # vectorized (px, py) -> universe index: sorted packed-key lookup
        ukey = ux.astype(np.int64) << 32 | uy.astype(np.int64)
        order = np.argsort(ukey)
        su = ukey[order]
        px_a = pdf["px"].to_numpy(dtype=np.int64)
        py_a = pdf["py"].to_numpy(dtype=np.int64)
        pkey = px_a << 32 | py_a
        pos = np.minimum(np.searchsorted(su, pkey), su.size - 1)
        ok = su[pos] == pkey  # points outside the corridor universe drop
        j = order[pos[ok]]
        t_all = pdf["t_idx"].to_numpy(dtype=np.int64)
        t_a = t_all[ok]
        v_a = pdf["value"].to_numpy()[ok]
        mat = np.zeros((n_t, n_px), dtype=np.int8)
        mat[t_a, j] = np.where(v_a == 1, 1, 2)  # -1 in corridor -> fillable 2
        out = fillk.binarize(fillk.fill_series(mat) if fill_nodata else mat)
        ti, pi = np.nonzero(out)
        ts, first = np.unique(t_all, return_index=True)
        ds_of_t = np.empty(n_t, dtype=object)
        ds_of_t[ts] = [d.isoformat() for d in pdf["date"].to_numpy()[first]]
        cols = {
            # scene is constant per group; NOTE the pandas UDF
            # serializer expands Categoricals back to object dtype
            # before Arrow conversion (r8 finding), so this is a
            # compact representation in the kernel, not a
            # dictionary-encoded wire format. An applyInArrow port
            # measured SLOWER (warm 1.76-1.83 s -> 1.91-1.98 s,
            # OPTIMIZATION_r08.md) — groups are large enough
            # that per-group pandas overhead is not the cost.
            "scene": pd.Categorical([scene]).repeat(ti.shape[0]),
            "ds": ds_of_t[ti],
            "px": ux[pi].astype(np.int32),
            "py": uy[pi].astype(np.int32),
        }
        if out_cell_res is not None:
            # same float64 arithmetic as hex_cell_udf (bit-identical)
            ox = gx0 + (ux[pi].astype(np.float64) + 0.5) * ps
            oy = gy0 - (uy[pi].astype(np.float64) + 0.5) * ps
            cols["cell"] = cellindex.hex_cell(ox, oy, out_cell_res)
            cols["n_kept"] = np.full(ti.shape[0], n_t, dtype=np.int64)
        return pd.DataFrame(cols)

    cell_of = hex_cell_udf(fill_res, grid)
    # only the columns the kernel reads cross into Python
    prepared = (points.select("scene", "date", "px", "py", "value", "t_idx", "n_t")
                .withColumn("fill_cell", cell_of("px", "py")))
    return prepared.groupBy("scene", "fill_cell").applyInPandas(kernel, out_schema)
