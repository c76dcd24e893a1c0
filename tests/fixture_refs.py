"""Test-side references for Spark operators and pipeline fixtures.

Each function here is what a test of engine code compares against or
builds its input from: an exact top-k for the ANN recall tests, the
per-byte fingerprint definition, a dense persistence raster, a stage
checksum re-check, and the river-line and reach-frame views of a
synthetic fixture. No declared surface of the engine uses them, so they
live here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irivermetrics_spark.operators.similarity import cosine_expr
from irivermetrics_spark.operators.textops import FP_BASE
from irivermetrics_spark.plans.lineage import lineage_record
from irivermetrics_spark.synth import Fixture


def brute_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k per query vector (broadcast the query side).

    Returns (query_id, neighbor_id, cosine, rank), ties broken by
    neighbor id for determinism.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    base = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec"))
    scored = (
        base.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_expr("qvec", "nvec"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def fingerprint_ref(data: bytes) -> int:
    """Per-byte reference definition of the document fingerprint:
    h = sum(b_i * B^(n-1-i)) mod 2^64 — kept as the oracle the
    vectorized path is property-tested against."""
    h = 0
    for b in data:
        h = (h * int(FP_BASE) + b) & 0xFFFFFFFFFFFFFFFF
    return h


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


def verify_stage(spark: SparkSession, df: DataFrame, base_path: str, stage: str) -> bool:
    """Recompute the stage checksum and compare with the lineage table
    (detects silent corruption / nondeterministic stages). Only the
    stage's latest generation of records counts."""
    # merged: a table appended to across the written_at change mixes
    # files with and without the column
    records = (spark.read.option("mergeSchema", "true").parquet(f"{base_path}/_lineage")
               .where(F.col("stage") == stage))
    if "written_at" in records.columns:
        latest = records.agg(F.max("written_at")).first()[0]
        records = records.where(F.col("written_at").eqNullSafe(F.lit(latest)))
    want = (
        records
        .agg(F.sum(F.col("checksum").cast("decimal(38,0)")).alias("c"),
             F.sum("rows").alias("r"))
        .collect()[0]
    )
    got = (
        lineage_record(df, stage)
        .agg(F.sum(F.col("checksum").cast("decimal(38,0)")).alias("c"),
             F.sum("rows").alias("r"))
        .collect()[0]
    )
    return (want["c"], want["r"]) == (got["c"], got["r"])


def reaches_df(fx: Fixture) -> pd.DataFrame:
    """Reach polygons as a (small, broadcastable) pandas frame."""
    rows = []
    for r in fx.reaches:
        rows.append(
            dict(
                section=r["section"],
                ring_x=r["ring_x"].tolist(),
                ring_y=r["ring_y"].tolist(),
                area_m2=r["area_m2"],
                xmin=r["xmin"],
                xmax=r["xmax"],
                ymin=r["ymin"],
                ymax=r["ymax"],
            )
        )
    return pd.DataFrame(rows)


def river_lines(fx: Fixture, seed: int = 42, n_pts: int = 60) -> list[dict]:
    """The channel centerline as a river-line layer (CRS coords) — the
    module-1 ``r_lines`` input for api.waterdetect_batch. Recomputes the
    scene-0 meander parameters exactly as make_fixture does (same rng
    stream), so the line threads the center of every reach polygon."""
    srng0 = np.random.default_rng(seed)
    amp = fx.h * 0.18
    lam = fx.w / (2.0 + srng0.uniform(0, 1.5))
    phase = srng0.uniform(0, 2 * np.pi)
    xs = np.linspace(0.0, float(fx.w), n_pts)
    ycs = fx.h / 2.0 + amp * np.sin(2 * np.pi * xs / lam + phase)
    return [dict(name="river", x=fx.gx0 + xs * fx.pixel_size, y=fx.gy0 - ycs * fx.pixel_size)]
