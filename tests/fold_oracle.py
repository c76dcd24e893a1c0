"""Test-only oracles: the Spark SQL aggregates that the section kernel's
pre-folded rows replaced.

``pool_sums`` is the pool ``groupBy`` that ``metrics.fold`` ran over the
pool rows, and ``persistence`` the per-section fold of the per-pixel
persistence rows. The kernel's SUMS and PERSISTENCE rows
(``morphology.fold_sums``, ``morphology.persistence_summary``) must
equal them bit for bit; ``tests/test_prefold.py`` checks that. Nothing
in the package imports this module.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pool_sums(pools: DataFrame) -> DataFrame:
    """(scene, ds, section) + morphology.SUMS_SCHEMA from pool rows."""
    safe = "CASE WHEN area_km2 > 0 THEN {} ELSE 0.0D END"
    return pools.groupBy("scene", "ds", "section").agg(
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


def persistence(persistence_px: DataFrame, pixel_size: float) -> DataFrame:
    """(scene, section, pp_mean, ra_area) from the per-pixel persistence
    rows (scene, section, px, py, wet, pp)."""
    px_area_km2 = pixel_size**2 / 1e6
    return persistence_px.groupBy("scene", "section").agg(
        F.expr("avg(CASE WHEN pp > 0.1D THEN pp END) AS pp_mean"),
        F.expr(f"COALESCE(sum(CASE WHEN pp > 0.9D THEN pp END), 0.0D) * {px_area_km2!r}D AS ra_area"),
    )
