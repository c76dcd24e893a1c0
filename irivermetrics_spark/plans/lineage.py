"""Per-stage checkpointing with per-partition lineage + counters (P8).

North-rule resumability: every major pipeline stage can be checkpointed
to a table directory; a lineage record (stage, partition counts, row
count, order-insensitive checksum, wall time) is appended next to it.
Re-running the pipeline with the same checkpoint dir SKIPS completed
stages idempotently (the `_SUCCESS` marker written atomically by the
parquet committer is the completion contract — a mid-stage kill leaves
no marker, so the stage re-runs from its inputs). A complete stage whose
columns or types differ from the plan's (a checkpoint written by an
older schema) is rebuilt, never returned as is.

The lineage table is append-only: every record carries the time its
stage write started (``written_at``), and a rebuilt stage's new records
supersede its older ones. A kill at any point therefore cannot lose
another stage's records. Records from before ``written_at`` existed read
it as null and count as the oldest generation.

The reference's analog is the <=3-retry as_completed loop
(src/irm_main.py:67-99); Spark's native task retry subsumes per-task
failures, and this layer adds whole-stage restartability on top.

Checksums use sum(xxhash64(row)) in decimal(38,0) (overflow-safe under
ANSI mode) — order-insensitive, so recomputed stages can be verified
byte-equivalent regardless of partitioning.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def stage_complete(spark: SparkSession, path: str) -> bool:
    fs, hpath = _fs(spark, path + "/_SUCCESS")
    return bool(fs.exists(hpath))


def _same_schema(stored: DataFrame, planned: DataFrame, partition_by: list[str]) -> bool:
    """Same column names and types; nullability is not compared (a
    parquet read makes every field nullable) and neither are the types
    of partition columns (the reader infers them from directory names)."""
    got = {f.name: f.dataType.simpleString() for f in stored.schema.fields}
    want = {f.name: f.dataType.simpleString() for f in planned.schema.fields}
    return got.keys() == want.keys() and all(
        got[name] == kind for name, kind in want.items() if name not in partition_by)


def lineage_record(df: DataFrame, stage: str) -> DataFrame:
    """(stage, partition_id, rows, checksum) for every partition."""
    cols = [F.col(c).cast("string") for c in df.columns]
    return (
        df.withColumn("__pid", F.spark_partition_id())
        .withColumn("__h", F.xxhash64(*cols).cast("decimal(38,0)"))
        .groupBy("__pid")
        .agg(F.count("*").alias("rows"), F.sum("__h").alias("checksum"))
        .select(
            F.lit(stage).alias("stage"),
            F.col("__pid").alias("partition_id"),
            "rows",
            F.col("checksum").cast("string").alias("checksum"),
        )
    )


def run_stage(spark: SparkSession, df: DataFrame, base_path: str, stage: str,
              partition_by: list[str] | None = None) -> DataFrame:
    """Materialize `df` at base_path/stage unless already complete.

    Returns a DataFrame reading the materialized stage — downstream
    lineage cuts over to the checkpoint, so a resume never recomputes
    upstream work. A complete stage with a different schema is rebuilt;
    its new lineage records supersede the old ones.
    """
    path = f"{base_path}/{stage}"
    if stage_complete(spark, path):
        done = spark.read.parquet(path)
        if _same_schema(done, df, partition_by or []):
            return done
    t0 = time.time()
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    out = spark.read.parquet(path)
    rec = (lineage_record(out, stage)
           .withColumn("wall_sec", F.lit(round(time.time() - t0, 3)))
           .withColumn("written_at", F.lit(t0)))
    rec.write.mode("append").parquet(f"{base_path}/_lineage")
    return out
