"""Similarity search over embedding columns (array<float>).

- cosine as a JVM-side array expression (zip_with/aggregate) — no
  Python in the hot path.
- embedding-cosine near-dup: signed-random-projection bits -> bucket
  equi-join, exact cosine inside buckets only. At 10^9+ rows the
  bucket join replaces the full cross product; recall is tunable via
  (n_bits, n_tables: multi-probe by repeating tables).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def cosine_expr(a: str, b: str):
    """cos(a, b) as a pure column expression (double math, JVM-side)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                            F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x.cast("double") * x.cast("double")),
                            F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def srp_buckets(embeddings: DataFrame, n_bits: int = 16, n_tables: int = 4,
                dim: int | None = None, id_col: str = "vec_id", vec_col: str = "embedding",
                seed: int = 11) -> DataFrame:
    """Signed-random-projection LSH: (id, table, bucket) rows.

    n_tables independent bit-sets give multi-probe recall; hyperplanes
    are deterministic from (seed, actual vector dim) — the dim is taken
    from the data, so every executor derives identical planes.
    """
    plane_cache: dict[int, np.ndarray] = {}

    def planes_for(d: int) -> np.ndarray:
        if d not in plane_cache:
            rng = np.random.default_rng(seed + 100003 * d)
            plane_cache[d] = rng.standard_normal((n_tables, n_bits, d)).astype(np.float64)
        return plane_cache[d]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        planes = planes_for(mat.shape[1])
        out = []
        codes = []
        for t in range(n_tables):
            proj = mat @ planes[t].T  # (n, n_bits)
            bits = (proj > 0).astype(np.uint64)
            code = (bits << np.arange(n_bits, dtype=np.uint64)[None, :]).sum(axis=1)
            codes.append(code.astype(np.int64))
        stacked = np.stack(codes, axis=1)  # (n, n_tables)
        for row in stacked:
            out.append(row.tolist())
        return pd.Series(out)

    return (
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .withColumn("bk", buckets("vec"))
        .select("id", "vec", F.posexplode("bk").alias("table", "bucket"))
    )


def cosine_neardup_pairs(embeddings: DataFrame, threshold: float = 0.95, n_bits: int = 16,
                         n_tables: int = 8, id_col: str = "vec_id",
                         vec_col: str = "embedding", round_to: int | None = None,
                         persisted_out: list | None = None) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= threshold) via SRP-LSH.

    16-bit buckets by default: near-dups at >=0.95
    cosine collide with high probability even at 16 bits (each
    hyperplane flips with prob acos(0.95)/pi ~ 0.10, and 8 tables
    multi-probe), while the self-join stays O(n^2 / 65k) per table
    instead of O(n^2 / 256). Buckets are persisted so the self-join
    doesn't run the projection UDF once per side.

    round_to: round the cosine BEFORE the threshold filter — pins the
    value for cross-engine (Spark vs DuckDB) hash comparison where the
    last-ulp of a double dot product differs by summation order.
    persisted_out: if a list is passed, the internally persisted bucket
    frame is appended so a long-lived session can ``unpersist()`` it
    after materializing the result (the default leaves the cache to the
    session lifetime — fine for batch jobs, leaky for services)."""
    b = srp_buckets(embeddings, n_bits, n_tables, None, id_col, vec_col).persist()
    if persisted_out is not None:
        persisted_out.append(b)
    cos = cosine_expr("va", "vb")
    if round_to is not None:
        cos = F.round(cos, round_to)
    pairs = (
        b.alias("l").join(b.alias("r"), ["table", "bucket"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("l.vec").alias("va"),
                F.col("r.id").alias("id_b"), F.col("r.vec").alias("vb"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
    )
    return pairs.select("id_a", "id_b", "cosine")
