"""Checkpoint/lineage layer: idempotent skip + checksum verification."""

import tempfile

from pyspark.sql import functions as F

from irivermetrics_spark.plans import lineage

from fixture_refs import verify_stage


def test_stage_skip_and_verify(spark):
    base = tempfile.mkdtemp(prefix="lineage_")
    df1 = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    out1 = lineage.run_stage(spark, df1, base, "stage_a")
    assert out1.count() == 1000
    assert lineage.stage_complete(spark, f"{base}/stage_a")

    # a second run with DIFFERENT input must be skipped (idempotent resume)
    df2 = spark.range(0, 5).withColumn("v", F.lit(0).cast("bigint"))
    out2 = lineage.run_stage(spark, df2, base, "stage_a")
    assert out2.count() == 1000  # original stage output, not df2

    # lineage checksum matches the materialized stage, not other data
    assert verify_stage(spark, out1, base, "stage_a")
    assert not verify_stage(spark, df2, base, "stage_a")


def test_lineage_records_partitions(spark):
    base = tempfile.mkdtemp(prefix="lineage_")
    df = spark.range(0, 100, numPartitions=4)
    lineage.run_stage(spark, df, base, "s")
    rec = spark.read.parquet(f"{base}/_lineage").toPandas()
    assert rec["rows"].sum() == 100
    assert (rec["stage"] == "s").all()


def test_rebuild_supersedes_records_and_keeps_other_stages(spark):
    base = tempfile.mkdtemp(prefix="lineage_")
    # stage a with a record from before records carried written_at
    old_a = spark.range(0, 10)
    old_a.write.parquet(f"{base}/a")
    (lineage.lineage_record(spark.read.parquet(f"{base}/a"), "a").withColumn("wall_sec", F.lit(0.1))
     .write.parquet(f"{base}/_lineage"))
    out_b = lineage.run_stage(spark, spark.range(0, 7).withColumn("v", F.lit(1)), base, "b")
    assert verify_stage(spark, old_a, base, "a")
    assert verify_stage(spark, out_b, base, "b")

    # a complete stage with another schema is rebuilt; its new records
    # supersede the old ones, which stay in the append-only table
    out_a = lineage.run_stage(spark, spark.range(0, 4).withColumn("v", F.lit(2)), base, "a")
    assert sorted(out_a.columns) == ["id", "v"] and out_a.count() == 4
    assert verify_stage(spark, out_a, base, "a")
    assert not verify_stage(spark, old_a, base, "a")
    assert verify_stage(spark, out_b, base, "b")
    rec = spark.read.option("mergeSchema", "true").parquet(f"{base}/_lineage").toPandas()
    assert rec.groupby("stage")["rows"].sum().to_dict() == {"a": 14, "b": 7}
