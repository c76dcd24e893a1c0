"""Corpus balancing (cap_per_key, split_by_hash): DuckDB parity for
the exact cap and determinism across partitionings."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from irivermetrics_spark.operators import textops


@pytest.fixture(scope="module")
def docs_pdf():
    rows = []
    for d in range(6):
        for i in range(5 + d * 7):  # skewed: domain 5 has 40 docs, domain 0 has 5
            rows.append((d * 1000 + i, f"domain{d}", f"text {d}-{i}"))
    return pd.DataFrame(rows, columns=["doc_id", "source", "text"])


def test_cap_per_key_counts_and_determinism(spark, docs_pdf):
    df = spark.createDataFrame(docs_pdf)
    capped = textops.cap_per_key(df, "source", cap=10)
    counts = {r["source"]: r["n"] for r in
              capped.groupBy("source").agg(F.count("*").alias("n")).collect()}
    want = docs_pdf.groupby("source").size().clip(upper=10).to_dict()
    assert counts == want

    ids1 = sorted(r["doc_id"] for r in capped.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in
                  textops.cap_per_key(df.repartition(7), "source", cap=10)
                  .select("doc_id").collect())
    assert ids1 == ids2  # winners independent of partitioning

    # different seed picks (almost surely) different winners for the hot key
    ids3 = sorted(r["doc_id"] for r in
                  textops.cap_per_key(df, "source", cap=10, seed=99)
                  .select("doc_id").collect())
    assert ids1 != ids3


def test_cap_per_key_matches_duckdb(spark, docs_pdf):
    # xxhash64 has no DuckDB twin, so the oracle reproduces the
    # SEMANTICS (exactly cap winners per key by a deterministic rank)
    # using Spark's own hash values exported as a column
    df = spark.createDataFrame(docs_pdf).withColumn(
        "rank_key", F.xxhash64(F.col("doc_id").cast("string"), F.lit(0)))
    got = textops.cap_per_key(df, "source", cap=7)
    con = duckdb.connect()
    con.register("docs", df.toPandas())
    want = con.sql("""
        select doc_id from (
          select doc_id, row_number() over
            (partition by source order by rank_key asc, doc_id asc) rn
          from docs) where rn <= 7 order by doc_id""").df()
    assert sorted(r["doc_id"] for r in got.select("doc_id").collect()) \
        == want["doc_id"].tolist()


def test_split_by_hash(spark, docs_pdf):
    df = spark.createDataFrame(docs_pdf)
    out = textops.split_by_hash(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = len(docs_pdf)
    assert sum(counts.values()) == n  # total partition, no row lost
    assert counts["train"] > counts.get("val", 0) and counts["train"] > counts.get("test", 0)

    # stability: same assignment across runs/partitionings; growing the
    # corpus never reassigns an existing row
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"]
         for r in textops.split_by_hash(df.repartition(9),
                                        {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert a == b
    half = spark.createDataFrame(docs_pdf.iloc[:50])
    c = {r["doc_id"]: r["split"]
         for r in textops.split_by_hash(half, {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert all(a[k] == v for k, v in c.items())

    with pytest.raises(ValueError):
        textops.split_by_hash(df, {"a": 0.0})
    # no shuffle
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_cap_per_key_auto_thin_hot_key_exact(spark):
    """The auto-gate (VERDICT r6 wrong #1): a key with n >> cap gets
    hash-pre-thinned before the exact window, the plan carries the
    pre-thin filter, and the winners are IDENTICAL to the unthinned
    result (the thin threshold lives in the same rank-hash space the
    window orders by)."""
    rows = [(i, "hot", "t") for i in range(9000)] + \
           [(100000 + i, "cold", "t") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    thinned = textops.cap_per_key(df, "source", cap=5)
    plain = textops.cap_per_key(df, "source", cap=5, auto_thin=False)
    got = sorted(r["doc_id"] for r in thinned.select("doc_id").collect())
    want = sorted(r["doc_id"] for r in plain.select("doc_id").collect())
    assert got == want
    assert len(got) == 10  # 5 winners for each key

    plan = thinned._jdf.queryExecution().executedPlan().toString()
    assert "__thr" in plan  # hot-key pre-thin filter is in the plan
    cold_plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "__thr" not in cold_plan


def test_cap_per_key_auto_thin_preserves_columns(spark, docs_pdf):
    df = spark.createDataFrame(docs_pdf)
    out = textops.cap_per_key(df, "source", cap=3)
    assert out.columns == df.columns
