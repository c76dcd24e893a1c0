"""kNN pool-to-pool queries: k-ring candidate expansion + haversine
re-rank (J7 / north rule).

Pool centroids (per scene, date) are indexed at a hex resolution; the
candidate set per pool is its k-ring neighborhood (a broadcastable
explode + equi-join — never a cross product); exact great-circle
distance re-ranks candidates and a window keeps the top-k. The
expansion radius must cover the true k-th neighbor: callers pick
``ring_k`` so that ring_k * hex_edge(res) bounds the search radius
(the fixture tests verify against a brute-force oracle).

Reference analog: the dev-tree sindex nearest-neighbor merge
(dev/catch_utils.py:585-644), re-expressed as joins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window

from ..functions import cellindex, geometry


def knn_pools(centroids: DataFrame, k: int = 3, res: int = 9, ring_k: int = 3,
              round_to: int | None = None) -> DataFrame:
    """k nearest pools per pool within the same (scene, ds):
    k-ring candidates -> haversine re-rank -> top-k window.

    round_to: round dist_m BEFORE the rank window — cross-engine
    determinism for the DuckDB value-pinned oracle (numpy trig and
    DuckDB trig agree far beyond 4 decimals of a metre, so rounded
    ranks are identical; unrounded near-ties could flip)."""

    @F.pandas_udf("long")
    def cell_of(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(cellindex.hex_cell(x.to_numpy(), y.to_numpy(), res))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def kring_of(cell: pd.Series) -> pd.Series:
        ring = cellindex.hex_kring(cell.to_numpy(dtype=np.int64), ring_k)
        return pd.Series([r.tolist() for r in ring])

    @F.pandas_udf("double")
    def hav(x1: pd.Series, y1: pd.Series, x2: pd.Series, y2: pd.Series) -> pd.Series:
        lon1, lat1 = geometry.planar_to_lonlat(x1.to_numpy(), y1.to_numpy())
        lon2, lat2 = geometry.planar_to_lonlat(x2.to_numpy(), y2.to_numpy())
        return pd.Series(geometry.haversine_m(lat1, lon1, lat2, lon2))

    pts = centroids.withColumn("cell", cell_of("x", "y")).withColumn(
        "pool_id", F.concat_ws("/", "section", F.col("label").cast("string"))
    )
    probes = pts.select(
        "scene", "ds", F.col("pool_id").alias("query_id"),
        F.col("x").alias("qx"), F.col("y").alias("qy"),
        F.explode(kring_of("cell")).alias("cell"),
    )
    cand = (
        probes.join(pts.select("scene", "ds", "cell", "pool_id", "x", "y"), ["scene", "ds", "cell"])
        .where(F.col("pool_id") != F.col("query_id"))
        .dropDuplicates(["scene", "ds", "query_id", "pool_id"])
        .withColumn("dist_m", hav("qx", "qy", "x", "y"))
    )
    if round_to is not None:
        cand = cand.withColumn("dist_m", F.round("dist_m", round_to))
    w = Window.partitionBy("scene", "ds", "query_id").orderBy(F.asc("dist_m"), F.asc("pool_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("scene", "ds", "query_id", F.col("pool_id").alias("neighbor_id"), "dist_m", "rank")
    )
