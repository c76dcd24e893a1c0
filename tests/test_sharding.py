"""Sharded writer (operators/sharding.py): append stability, DuckDB
parity of the shard assignment, write/read round-trip, and plan shape."""
import duckdb
import pandas as pd
import pytest

from irivermetrics_spark.operators import sharding


@pytest.fixture()
def docs(spark):
    pdf = pd.DataFrame({
        "doc_id": [f"d{i:03d}" for i in range(200)],
        "text": [f"payload {i}" for i in range(200)],
    })
    return spark.createDataFrame(pdf)


def test_append_stability(spark, docs):
    """The property randomSplit/rand() lacks: adding rows never
    reorders existing rows relative to each other."""
    def order(df):
        out = sharding.shard_assignments(df, 4, seed=3).orderBy("shard", "shard_pos")
        return [r.doc_id for r in out.collect()]

    kept = [d for d in order(docs) if d < "d100"]
    assert kept == order(docs.where("doc_id < 'd100'"))


def test_shard_assignment_matches_duckdb(spark, docs):
    """shard = pmod(xxhash64(id, seed), n) replayed in DuckDB via the
    same spark-compatible hash? DuckDB has no xxhash64 — instead pin
    determinism + balance + the shard/pos contract in-engine, and pin
    the membership<->position consistency relationally in DuckDB."""
    out = sharding.shard_assignments(docs, n_shards=8, seed=1).toPandas()
    assert set(out["shard"]) <= set(range(8))
    # every shard's positions are exactly 0..n-1 (dense, no gaps)
    con = duckdb.connect()
    con.register("t", out)
    bad = con.sql("""
        SELECT shard FROM t GROUP BY shard
        HAVING count(*) != max(shard_pos) + 1 OR min(shard_pos) != 0
    """).df()
    assert bad.empty
    # balanced-ish: no shard holds more than 3x the fair share
    counts = out.groupby("shard").size()
    assert counts.max() <= 3 * (len(out) / 8)
    again = sharding.shard_assignments(docs.repartition(5), n_shards=8, seed=1).toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values("doc_id").reset_index(drop=True),
        again.sort_values("doc_id").reset_index(drop=True))


def test_write_shards_roundtrip(spark, docs, tmp_path):
    path = str(tmp_path / "shards")
    manifest = sharding.write_shards(docs, path, n_shards=4, seed=2).toPandas()
    assert manifest["n_rows"].sum() == 200
    assert len(manifest) == 4
    back = spark.read.parquet(path)
    assert back.count() == 200
    assert {r.doc_id for r in back.collect()} == {f"d{i:03d}" for i in range(200)}
    # within-shard order is the deterministic shuffle order
    one = (back.where("shard = 1").orderBy("shard_pos").toPandas())
    expect = (sharding.shard_assignments(docs, 4, seed=2)
              .where("shard = 1").orderBy("shard_pos").toPandas())
    assert one["doc_id"].tolist() == expect["doc_id"].tolist()
    # re-write produces identical membership
    manifest2 = sharding.write_shards(docs, path, n_shards=4, seed=2).toPandas()
    pd.testing.assert_frame_equal(manifest, manifest2)


def test_no_python_nodes(spark, docs):
    plan = (sharding.shard_assignments(docs, 8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan


def test_bad_args(spark, docs):
    with pytest.raises(ValueError):
        sharding.shard_assignments(docs, 0)


def test_write_shards_with_repeated_id_and_tiebreak(spark, tmp_path):
    """Sharding on a repeating key (pack_id) keeps the group whole in
    one shard; extra_order_cols makes the within-group order
    deterministic."""
    pdf = pd.DataFrame({
        "pack_id": [f"p{i // 4}" for i in range(80)],
        "doc_id": [f"d{i:02d}" for i in range(80)],
    })
    docs = spark.createDataFrame(pdf)
    path = str(tmp_path / "packs")
    sharding.write_shards(docs, path, n_shards=3, seed=1,
                          id_col="pack_id", extra_order_cols=["doc_id"])
    back = spark.read.parquet(path).toPandas()
    assert back.groupby("pack_id")["shard"].nunique().max() == 1
    sharding.write_shards(docs.repartition(9), path + "2", n_shards=3, seed=1,
                          id_col="pack_id", extra_order_cols=["doc_id"])
    back2 = spark.read.parquet(path + "2").toPandas()
    key = ["pack_id", "doc_id"]
    pd.testing.assert_frame_equal(
        back.sort_values(key).reset_index(drop=True)[["shard", "shard_pos"] + key],
        back2.sort_values(key).reset_index(drop=True)[["shard", "shard_pos"] + key])
