"""The flagship operator: polygon x raster zonal join (J1/J2).

Semantics re-expressed Spark-first: each reach polygon is covered by a
small set of hex cells (full / boundary split); the cover is a tiny
DataFrame that Spark broadcasts; mask points equi-join it on their
cell key; points landing in boundary cells get an exact vectorized
refinement (pandas UDF): GDAL-style all_touched membership — pixel
CENTER inside the polygon OR the pixel square touched by a boundary
segment — intersected with the reference's bbox clip rule (pixel
center within polygon bounds; reference clip_data,
src/utils/calc_metrics.py:420-424). Replaces the reference's
per-feature rasterize loop (src/utils/calc_metrics.py:616-653).

The corridor (dissolved AOI) variant uses the default center-rule
membership (reference rasterize without all_touched,
src/utils/calc_metrics.py:484-490).

Scale notes: the polygon side is O(polygons x cells-per-polygon) —
always broadcastable; the point side never shuffles for this join.
Refinement cost is proportional to boundary-cell points only. Skewed
dense-corridor cells are irrelevant here (no shuffle); downstream
groupBys inherit AQE skew handling.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geometry


# session-scoped memo for the two cover dimension frames: the covers
# are pure functions of (polygon layer, res), and rebuilding them cost
# ~1.6 s of driver->JVM row serialization PER pipeline run (the r5
# serial-floor profile: more than half the non-compute flagship time).
# Keyed by applicationId so a restarted session never reuses dead
# DataFrame handles. Bounded: every entry holds a live DataFrame handle.
_COVER_CACHE: dict[tuple, DataFrame] = {}
_COVER_CACHE_CAP = 64


def _remember(key: tuple, df: DataFrame) -> DataFrame:
    """The one insert into ``_COVER_CACHE``: drops the oldest entries
    (insertion order) so it never holds more than the cap."""
    while len(_COVER_CACHE) >= _COVER_CACHE_CAP:
        _COVER_CACHE.pop(next(iter(_COVER_CACHE)))
    _COVER_CACHE[key] = df
    return df


def _cover_key(spark: SparkSession, reaches: list[dict], res: int) -> tuple:
    from .fillop import rings_content_key

    return (spark.sparkContext.applicationId, rings_content_key(reaches), res)


def cover_df(spark: SparkSession, reaches: list[dict], res: int = 9) -> DataFrame:
    """Per-section hex cover (cell, section, full) — the broadcast side."""
    key = ("per",) + _cover_key(spark, reaches, res)
    cached = _COVER_CACHE.get(key)
    if cached is not None:
        return cached
    cells_l, sect_l, full_l = [], [], []
    for r in reaches:
        cells, is_full = geometry.polygon_cover_hex(r["ring_x"], r["ring_y"], res)
        cells_l.append(cells.astype(np.int64))
        sect_l.extend([str(r["section"])] * cells.shape[0])
        full_l.append(is_full.astype(bool))
    schema = T.StructType(
        [
            T.StructField("cell", T.LongType(), False),
            T.StructField("section", T.StringType(), False),
            T.StructField("full", T.BooleanType(), False),
        ]
    )
    pdf = pd.DataFrame({
        "cell": np.concatenate(cells_l) if cells_l else np.zeros(0, dtype=np.int64),
        "section": pd.Series(sect_l, dtype=object),
        "full": np.concatenate(full_l) if full_l else np.zeros(0, dtype=bool),
    })
    # Arrow path (pandas input) instead of per-row pickling
    return _remember(key, spark.createDataFrame(pdf, schema))


def corridor_cover_df(spark: SparkSession, reaches: list[dict], res: int = 9) -> DataFrame:
    """Dissolved-corridor cover: union of section covers, full if any."""
    key = ("corr",) + _cover_key(spark, reaches, res)
    cached = _COVER_CACHE.get(key)
    if cached is not None:
        return cached
    per = cover_df(spark, reaches, res)
    return _remember(key, per.groupBy("cell").agg(F.max("full").alias("full")))


def member_all_touched(cx: np.ndarray, cy: np.ndarray, reach: dict, ps: float) -> np.ndarray:
    """Exact section membership of pixels by their float64 centers:
    GDAL-style all_touched (center in polygon OR the pixel square
    touched by a boundary segment) intersected with the reference's
    bbox clip (center within polygon bounds)."""
    ring_x, ring_y = np.asarray(reach["ring_x"]), np.asarray(reach["ring_y"])
    member = geometry.point_in_polygon(cx, cy, ring_x, ring_y)
    member |= geometry.segments_touch_squares(cx, cy, ps / 2.0, ring_x, ring_y)
    member &= (cx >= reach["xmin"]) & (cx <= reach["xmax"]) & (cy >= reach["ymin"]) & (cy <= reach["ymax"])
    return member


def _corridor_refine_factory(reaches: list[dict], grid: dict):
    """Center-rule membership in the dissolved corridor (union of rings)."""
    ps, gx0, gy0 = grid["ps"], grid["gx0"], grid["gy0"]
    rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"])) for r in reaches]

    @F.pandas_udf(T.BooleanType())
    def refine(px: pd.Series, py: pd.Series) -> pd.Series:
        cx = gx0 + (px.to_numpy() + 0.5) * ps
        cy = gy0 - (py.to_numpy() + 0.5) * ps
        member = np.zeros(len(px), dtype=bool)
        for ring_x, ring_y in rings:
            todo = ~member
            if not todo.any():
                break
            member[todo] = geometry.point_in_polygon(cx[todo], cy[todo], ring_x, ring_y)
        return pd.Series(member)

    return refine


def zonal_join(points: DataFrame, cover: DataFrame, reaches: list[dict], grid: dict) -> DataFrame:
    """points x sections: broadcast cell join + exact all_touched refine.

    Returns the input columns + ``section``; a point may match several
    overlapping sections (one row each), mirroring the reference's
    independent per-feature processing.
    """
    ps, gx0, gy0 = grid["ps"], grid["gx0"], grid["gy0"]
    by_section = {r["section"]: r for r in reaches}

    @F.pandas_udf(T.BooleanType())
    def refine(section: pd.Series, px: pd.Series, py: pd.Series) -> pd.Series:
        out = np.zeros(len(section), dtype=bool)
        cx = gx0 + (px.to_numpy() + 0.5) * ps
        cy = gy0 - (py.to_numpy() + 0.5) * ps
        for sec in section.unique():  # vectorized per section within the batch
            m = (section == sec).to_numpy()
            out[m] = member_all_touched(cx[m], cy[m], by_section[sec], ps)
        return pd.Series(out)

    joined = points.join(F.broadcast(cover), "cell")
    # split so the (vectorized-Python) refine only ever sees boundary-cell
    # points — full-cell points pass through JVM-only
    full_rows = joined.filter("full").drop("full")
    boundary = joined.filter("NOT full").drop("full").filter(refine("section", "px", "py"))
    return full_rows.unionByName(boundary)


def corridor_join(points: DataFrame, corridor_cover: DataFrame, reaches: list[dict], grid: dict) -> DataFrame:
    """points filtered to the dissolved corridor (center rule)."""
    joined = points.join(F.broadcast(corridor_cover), "cell")
    refine = _corridor_refine_factory(reaches, grid)
    full_rows = joined.filter("full").drop("full")
    boundary = joined.filter("NOT full").drop("full").filter(refine("px", "py"))
    return full_rows.unionByName(boundary)
