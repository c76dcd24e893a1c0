"""Persistence metrics (A1-A3) and the per-(date, section) fold (A7).

Everything here is built-in Catalyst aggregates — the reference's
pandas groupby().apply(process_metrics)
(src/irm_main.py:198-201, src/utils/calc_metrics.py:225-293) dissolves
into hash aggregates with partial/final phases; every weighted metric
is a sum-of-products over pool rows:

  AWMSI = sum(0.25*perim/sqrt(area) * area) / sum(area)
  AWMPA = sum(area^2) / sum(area);  AWMPL/AWMPW analogous with area wts
  AWRe  = nansum((2*sqrt(area)/pi / length) * area) / sum(area)
          (the reference's non-standard radius, :265 — quirk)
  PF    = npools / sum(area);  PFL = npools / sum(length)
  APSEC = sum(area)/section_area*100;  LPSEC = sum(length)/L*100 with
          the NaN-propagation quirk (:273)

Zero-pool (date, section) pairs — absent groups or label-0 rows —
reproduce the reference's zero branch (:236-256) via a right join
against the (scene x kept-date x section) dimension grid.

Pixel persistence (A1-A3, src/utils/calc_metrics.py:295-304, 655-667):
pp = wet-count/n_dates per pixel (only ever-wet pixels materialize —
zeros are implicit and fall below both thresholds);
pp_mean = avg(pp | pp > 0.1) (NaN when empty), ra_area =
sum(pp | pp > 0.9) * pixel_area_km2 (0 when empty) — per section over
the all_touched-masked clip. The per-pixel table is the section
kernel's output (``morphology.section_rows``); ``persistence`` folds it.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NAN = float("nan")


def persistence(persistence_px: DataFrame, pixel_size: float) -> DataFrame:
    """(scene, section, pp_mean, ra_area) from the per-pixel persistence
    table (scene, section, px, py, wet, pp).

    SQL-string expressions (same exact forms as the r1-r5 Column trees)
    — part of the r6 py4j plan-floor sweep; see metrics.fold."""
    px_area_km2 = pixel_size**2 / 1e6
    return persistence_px.groupBy("scene", "section").agg(
        F.expr("avg(CASE WHEN pp > 0.1D THEN pp END) AS pp_mean"),
        F.expr(f"COALESCE(sum(CASE WHEN pp > 0.9D THEN pp END), 0.0D) * {px_area_km2!r}D AS ra_area"),
    )


def dimension_grid(kept_dates: DataFrame, reaches: list[dict]) -> DataFrame:
    """(scene, ds, section, section_area_km2) — the fold's full keyspace.

    Each kept (scene, date) row expands into one row per section by an
    ``inline`` generator over a literal array of sections: no second
    relation, so no broadcast job for a dimension of a few rows, and
    the grid stays distributed with the kept dates. The literals are
    exact: Python's float repr round-trips."""
    sections = ", ".join(
        f"named_struct('section', {_sql_str(r['section'])}, "
        f"'section_area_km2', {float(r['area_m2']) / 1e6!r}D)"
        for r in reaches)
    return kept_dates.selectExpr(
        "scene", "date_format(date, 'yyyy-MM-dd') AS ds", f"inline(array({sections}))")


def _sql_str(value) -> str:
    """A SQL string literal of ``str(value)``."""
    return "'" + str(value).replace("\\", "\\\\").replace("'", "\\'") + "'"


def fold(pools: DataFrame, grid_df: DataFrame, persistence_df: DataFrame,
         section_length: float = NAN, broadcast_dims: bool = True) -> DataFrame:
    """A7: pool rows -> final metrics table (one row per scene/date/section).

    broadcast_dims: hint the per-(scene,date,section) aggregate and the
    per-(scene,section) persistence table as broadcast sides. Correct
    whenever the keyspace is bounded (the fixture/bench regime); at
    10^12-image scale the aggregate is NOT bounded — the caller gates
    the hint on the estimated group count and lets AQE pick the join
    strategy beyond it (r1 VERDICT: an unconditional hint there would
    OOM the driver)."""
    # the whole fold is SQL-string expressions (r5 VERDICT perf-weak #2:
    # the nested F.when/F.col trees here alone cost ~0.44 s of py4j
    # round-trips PER RUN at local[*]; one F.expr is one JVM parse).
    # Every expression is the exact SQL form of the r1-r5 Column tree —
    # same operator order, same double literals — so a7_fold and the
    # numpy-parity suite stay value-identical.
    safe = "CASE WHEN area_km2 > 0 THEN {} ELSE 0.0D END"
    agg = pools.groupBy("scene", "ds", "section").agg(
        F.expr("count(*) AS n_rows"),
        F.expr(f"sum({safe.format('area_km2')}) AS sum_area"),
        F.expr(f"sum({safe.format('length_km')}) AS sum_len"),
        F.expr(f"sum({safe.format('perimeter_km')}) AS sum_perim"),
        F.expr(f"sum({safe.format('0.25D * perimeter_km / sqrt(area_km2) * area_km2')}) AS awmsi_num"),
        F.expr(f"sum({safe.format('area_km2 * area_km2')}) AS awmpa_num"),
        F.expr(f"sum({safe.format(f'nanvl(2.0D * sqrt(area_km2) / {math.pi!r}D / length_km * area_km2, 0.0D)')}) AS awre_num"),
        F.expr(f"sum({safe.format('length_km * area_km2')}) AS awmpl_num"),
        F.expr(f"sum({safe.format('width_km * area_km2')}) AS awmpw_num"),
    )
    # both right sides are per-(scene,date,section) / per-(scene,section)
    # aggregates — tiny relative to pool rows in the bounded regime
    agg_side = F.broadcast(agg) if broadcast_dims else agg
    pers_side = F.broadcast(persistence_df) if broadcast_dims else persistence_df
    j = (
        grid_df.join(agg_side, ["scene", "ds", "section"], "left")
        .join(pers_side, ["scene", "section"], "left")
    )
    nz = "(sum_area IS NOT NULL AND sum_area > 0)"
    L = "double('NaN')" if math.isnan(section_length) else f"{float(section_length)!r}D"
    out = j.selectExpr(
        "scene",
        "ds AS date",
        "section",
        "section_area_km2",
        f"{L} AS section_length_km",
        # reference npools = group row count for nonzero groups; zero
        # groups take the 0 branch
        f"CAST(CASE WHEN {nz} THEN n_rows ELSE 0 END AS INT) AS npools",
        f"CASE WHEN {nz} THEN sum_area ELSE 0.0D END AS wet_area_km2",
        f"CASE WHEN {nz} THEN sum_len ELSE 0.0D END AS wet_length_km",
        f"CASE WHEN {nz} THEN sum_perim ELSE 0.0D END AS wet_perimeter_km",
        f"CASE WHEN {nz} THEN awmsi_num / sum_area ELSE 0.0D END AS AWMSI",
        f"CASE WHEN {nz} THEN awre_num / sum_area ELSE double('NaN') END AS AWRe",
        f"CASE WHEN {nz} THEN awmpa_num / sum_area ELSE 0.0D END AS AWMPA",
        f"CASE WHEN {nz} THEN awmpl_num / sum_area ELSE 0.0D END AS AWMPL",
        f"CASE WHEN {nz} THEN awmpw_num / sum_area ELSE 0.0D END AS AWMPW",
        f"CASE WHEN {nz} THEN n_rows / sum_area ELSE 0.0D END AS PF",
        f"CASE WHEN {nz} THEN n_rows / sum_len ELSE 0.0D END AS PFL",
        f"CASE WHEN {nz} THEN sum_area / section_area_km2 * 100 ELSE 0.0D END AS APSEC",
        # LPSEC quirk (reference :273): the condition is effectively
        # always true (NaN != 0 is true), so NaN section_length
        # propagates NaN
        f"CASE WHEN {nz} THEN sum_len / {L} * 100 ELSE "
        f"(CASE WHEN isnan({L}) OR {L} = 0.0D THEN double('NaN') ELSE 0.0D END) END AS LPSEC",
        "COALESCE(pp_mean, double('NaN')) AS `pp_mean_%`",
        "COALESCE(ra_area, 0.0D) AS ra_area_km2",
    )
    return out.orderBy("scene", "section", "date")
