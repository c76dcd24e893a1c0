"""Deterministic sharded dataset writer — the last step of a
training-data pipeline (after curation/dedup/packing, data is globally
shuffled and written as N stable shards the trainer streams).

``DataFrame.orderBy(rand())`` is neither reproducible across re-runs
nor stable under input repartitioning; the standard trick (FineWeb /
Dolma style) is ordering by a seeded hash of the id — a pure function
of (id, seed), so the permutation is identical on every run, machine
and partitioning, and appending new rows never reorders old ones
relative to each other.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _order_key(id_col: str, seed: int,
               extra_order_cols: list[str] | None = None) -> tuple[Column, list]:
    """The deterministic shuffle key shared by every function here:
    ``xxhash64(id, seed)`` plus the (id[, extras]) hash-collision
    tiebreaks that keep the order TOTAL. Pass ``extra_order_cols`` when
    ``id_col`` itself repeats (e.g. sharding packed docs on pack_id
    with doc_id as the within-pack order)."""
    ties = [F.col(id_col).asc()]
    for c in extra_order_cols or []:
        ties.append(F.col(c).asc())
    return F.xxhash64(F.col(id_col).cast("string"), F.lit(int(seed))), ties


def shard_assignments(docs: DataFrame, n_shards: int, seed: int = 0,
                      id_col: str = "doc_id",
                      extra_order_cols: list[str] | None = None) -> DataFrame:
    """Adds ``shard`` (pmod of the seeded hash) and ``shard_pos``
    — deterministic position inside the shard under the (hash, id)
    order."""
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    h, ties = _order_key(id_col, seed, extra_order_cols)
    out = docs.withColumn("shard", F.pmod(h, F.lit(int(n_shards))).cast("int"))
    w = Window.partitionBy("shard").orderBy(h.asc(), *ties)
    return out.withColumn("shard_pos", (F.row_number().over(w) - 1).cast("bigint"))


def write_shards(docs: DataFrame, path: str, n_shards: int, seed: int = 0,
                 id_col: str = "doc_id",
                 extra_order_cols: list[str] | None = None) -> DataFrame:
    """Write ``docs`` as ``n_shards`` parquet shard directories
    (``shard=K/``), each internally ordered by the deterministic
    shuffle key — re-running on the same input produces identical
    shard membership and row order. Returns the manifest (shard,
    n_rows) as a DataFrame.

    Plan: the shard column is a projection, the explicit
    ``repartition(n, shard)`` is the ONLY full Exchange (its
    HashPartitioning(shard) satisfies the shard_pos window's
    clustering requirement, so the window adds just an in-partition
    sort — assigning first and repartitioning after would shuffle the
    whole dataset twice), then one ``partitionBy`` write with no
    driver-side loop, so 10^5 shards cost the same orchestration as
    10. Shard values can hash-collide into one write task; shard
    DIRECTORIES are still exactly n_shards."""
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    h, ties = _order_key(id_col, seed, extra_order_cols)
    out = (docs.withColumn("shard", F.pmod(h, F.lit(int(n_shards))).cast("int"))
           .repartition(int(n_shards), F.col("shard")))
    w = Window.partitionBy("shard").orderBy(h.asc(), *ties)
    assigned = out.withColumn("shard_pos", (F.row_number().over(w) - 1).cast("bigint"))
    (assigned.write.mode("overwrite").partitionBy("shard").parquet(path))
    spark = docs.sparkSession
    return (spark.read.parquet(path)
            .groupBy("shard").agg(F.count(F.lit(1)).alias("n_rows"))
            .orderBy("shard"))
