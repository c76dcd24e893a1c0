"""Quality checks for the scale operators: kNN, MinHash-LSH, SRP-LSH ANN."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from irivermetrics_spark.functions import geometry
from irivermetrics_spark.operators import dedup, knn

from fixture_refs import brute_topk


# ------------------------------------------------------------------ kNN

def test_knn_matches_bruteforce_haversine(spark):
    rng = np.random.default_rng(9)
    n = 60
    pdf = pd.DataFrame(
        dict(
            scene="s0",
            ds="2020-01-01",
            section="0",
            label=np.arange(n),
            x=rng.uniform(0, 3000, n),
            y=rng.uniform(0, 1000, n),
        )
    )
    cents = spark.createDataFrame(pdf)
    got = knn.knn_pools(cents, k=3, res=9, ring_k=4).toPandas()

    # brute-force oracle
    lon, lat = geometry.planar_to_lonlat(pdf.x.to_numpy(), pdf.y.to_numpy())
    ids = [f"0/{i}" for i in range(n)]
    expect = {}
    for i in range(n):
        d = geometry.haversine_m(lat[i], lon[i], lat, lon)
        order = sorted(range(n), key=lambda j: (d[j], ids[j]))
        expect[ids[i]] = [ids[j] for j in order if j != i][:3]

    got_map = {}
    for rec in got.sort_values(["query_id", "rank"]).itertuples(index=False):
        got_map.setdefault(rec.query_id, []).append(rec.neighbor_id)
    assert got_map == expect


# ------------------------------------------------------- MinHash LSH dedup

def _dup_corpus():
    base = [
        "the quick brown fox jumps over the lazy dog again and again in the river valley " * 4,
        "completely different content about spark partitions and shuffle behavior at scale " * 4,
        "surface water persistence metrics for intermittent rivers and ephemeral streams " * 4,
    ]
    rows = []
    i = 0
    for b in base:
        rows.append((i, b)); i += 1
        rows.append((i, b + " with a tiny suffix change"))  # near-dup
        i += 1
    rows.append((i, "an utterly unrelated document mentioning nothing in common whatsoever zzz")); i += 1
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def test_minhash_lsh_finds_neardups(spark):
    docs = spark.createDataFrame(_dup_corpus())
    cand = dedup.lsh_candidates(docs, "doc_id", "text", n_hashes=64, bands=16)
    pairs = dedup.exact_jaccard_pairs(docs, cand, "doc_id", "text").toPandas()
    found = {(a, b) for a, b, _, j in pairs.itertuples(index=False) if j >= 0.5}
    assert {(0, 1), (2, 3), (4, 5)} <= found
    # estimate tracks exact jaccard
    for rec in pairs.itertuples(index=False):
        assert abs(rec.est_jaccard - rec.jaccard) < 0.35


def test_simhash_neardups(spark):
    docs = spark.createDataFrame(_dup_corpus())
    got = dedup.simhash_candidates(docs, "doc_id", "text", max_hamming=6).toPandas()
    found = set(zip(got.id_a, got.id_b))
    assert {(0, 1), (2, 3), (4, 5)} <= found


# ------------------------------------------------------------ ANN recall

def test_pq_ann_recall_vs_brute(spark):
    from irivermetrics_spark.operators import pq

    rng = np.random.default_rng(14)
    centers = rng.standard_normal((6, 32))
    vecs = np.concatenate([c + 0.12 * rng.standard_normal((30, 32)) for c in centers])
    pdf = pd.DataFrame({"vec_id": np.arange(len(vecs)),
                        "embedding": [v.astype(np.float32).tolist() for v in vecs]})
    em = spark.createDataFrame(pdf)
    q = em.filter(F.col("vec_id") < 5)
    books = pq.train_pq(em, m=8, k=32, sample=256, iters=6)
    assert books.shape == (8, 32, 4)
    brute = brute_topk(em, q, k=5).toPandas()
    approx = pq.pq_topk(em, q, books, topk=5, shortlist=6).toPandas()
    hits = 0
    for qid in range(5):
        b = set(brute[brute.query_id == qid].neighbor_id)
        a = set(approx[approx.query_id == qid].neighbor_id)
        hits += len(a & b)
    assert hits / 25 >= 0.8  # ADC shortlist + exact rerank


def test_pq_encode_shape_and_determinism(spark):
    from irivermetrics_spark.operators import pq

    rng = np.random.default_rng(15)
    vecs = rng.standard_normal((40, 16))
    pdf = pd.DataFrame({"vec_id": np.arange(40),
                        "embedding": [v.astype(np.float32).tolist() for v in vecs]})
    em = spark.createDataFrame(pdf)
    books = pq.train_pq(em, m=4, k=16, sample=64, iters=4)
    a = pq.pq_encode(em, books).toPandas().sort_values("id").reset_index(drop=True)
    b = pq.pq_encode(em, books).toPandas().sort_values("id").reset_index(drop=True)
    assert all(len(c) == 4 for c in a.codes)
    assert [list(c) for c in a.codes] == [list(c) for c in b.codes]
    assert all(0 <= v < 16 for c in a.codes for v in c)


def test_ivf_ann_recall_vs_brute(spark):
    from irivermetrics_spark.operators import ivf

    rng = np.random.default_rng(12)
    centers = rng.standard_normal((6, 32))
    vecs = np.concatenate([c + 0.12 * rng.standard_normal((30, 32)) for c in centers])
    pdf = pd.DataFrame({"vec_id": np.arange(len(vecs)),
                        "embedding": [v.astype(np.float32).tolist() for v in vecs]})
    em = spark.createDataFrame(pdf)
    q = em.filter(F.col("vec_id") < 5)
    C = ivf.train_centroids(em, n_lists=8, sample=256, iters=6)
    assert C.shape == (8, 32)
    brute = brute_topk(em, q, k=5).toPandas()
    approx = ivf.ivf_topk(em, q, C, k=5, nprobe=3).toPandas()
    hits = 0
    for qid in range(5):
        b = set(brute[brute.query_id == qid].neighbor_id)
        a = set(approx[approx.query_id == qid].neighbor_id)
        hits += len(a & b)
    assert hits / 25 >= 0.8  # clustered data: IVF should recall well


def test_ivf_assigned_reuse_identical(spark):
    """ivf_topk(assigned=) must return exactly the direct-call result —
    the amortized index path (r2 VERDICT: re-running the assign UDF over
    the base table per query batch) is value-transparent."""
    from irivermetrics_spark.operators import ivf

    rng = np.random.default_rng(21)
    vecs = rng.standard_normal((120, 16))
    pdf = pd.DataFrame({"vec_id": np.arange(len(vecs)),
                        "embedding": [v.astype(np.float32).tolist() for v in vecs]})
    em = spark.createDataFrame(pdf)
    q = em.filter(F.col("vec_id") < 4)
    C = ivf.train_centroids(em, n_lists=4, sample=128, iters=4)
    assigned = ivf.ivf_assign(em, C).persist()
    direct = ivf.ivf_topk(em, q, C, k=3, nprobe=4, round_to=6).toPandas()
    reused = ivf.ivf_topk(em, q, C, k=3, nprobe=4, assigned=assigned, round_to=6).toPandas()
    key = ["query_id", "neighbor_id", "rank"]
    assert direct[key].sort_values(key).values.tolist() == \
        reused[key].sort_values(key).values.tolist()
    assigned.unpersist()


def test_pq_encoded_reuse_and_broadcast_luts(spark):
    """pq_topk(encoded=) with the sc.broadcast LUT path must equal the
    fresh-encode call."""
    from irivermetrics_spark.operators import pq

    rng = np.random.default_rng(22)
    vecs = rng.standard_normal((100, 16))
    pdf = pd.DataFrame({"vec_id": np.arange(len(vecs)),
                        "embedding": [v.astype(np.float32).tolist() for v in vecs]})
    em = spark.createDataFrame(pdf)
    q = em.filter(F.col("vec_id") < 3)
    books = pq.train_pq(em, m=4, k=16, sample=128, iters=4)
    enc = pq.pq_encode(em, books).persist()
    direct = pq.pq_topk(em, q, books, topk=3, shortlist=8, round_to=6).toPandas()
    reused = pq.pq_topk(em, q, books, topk=3, shortlist=8, encoded=enc, round_to=6).toPandas()
    key = ["query_id", "neighbor_id", "rank"]
    assert direct[key].sort_values(key).values.tolist() == \
        reused[key].sort_values(key).values.tolist()
    enc.unpersist()


def test_pq_large_query_batch_no_driver_collect(spark, monkeypatch):
    """10^5-query PQ batch with driver-side collection BLOCKED: the
    r4-VERDICT scale seam was pq_topk collecting the query frame and
    building the (nq, m, k) LUT stack on the driver. The block
    nested-loop rewrite computes LUTs executor-side; this pins that no
    code path re-introduces a collect/toPandas of query vectors (the
    one allowed driver action is queries.count())."""
    from pyspark.sql import DataFrame

    from irivermetrics_spark.operators import pq

    rng = np.random.default_rng(31)
    vecs = rng.standard_normal((400, 8))
    em = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(len(vecs)),
        "embedding": [v.astype(np.float32).tolist() for v in vecs],
    }))
    books = pq.train_pq(em, m=4, k=16, sample=256, iters=4)
    enc = pq.pq_encode(em, books).persist()
    enc.count()
    # queries are generated IN the cluster (no driver-side vector data):
    # deterministic per-id trig features
    queries = spark.range(100_000).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 8), j -> cast(cos(id * j * 0.37) as float))")
        .alias("embedding"),
    )

    def _blocked(self, *a, **kw):  # pragma: no cover - failure path
        raise AssertionError("driver-side collection inside pq_topk")

    monkeypatch.setattr(DataFrame, "collect", _blocked)
    monkeypatch.setattr(DataFrame, "toPandas", _blocked)
    monkeypatch.setattr(DataFrame, "toLocalIterator", _blocked)
    res = pq.pq_topk(em, queries, books, topk=3, shortlist=4,
                     encoded=enc, enc_blocks=2)
    n_top1 = res.where(F.col("rank") == 1).count()
    monkeypatch.undo()
    assert n_top1 == 100_000
    enc.unpersist()

# ------------------------------------------------------ IVF+PQ composition

def test_ivf_pq_full_probe_equals_flat_pq(spark):
    """nprobe == n_lists probes every inverted list, so the composed
    path's candidate pool — and, because the ADC LUT/score expressions
    are shared (_adc_luts/_block_scorer), its floats — must reproduce
    flat pq_topk exactly, which the ann_pq oracle already pins to the
    brute ranking."""
    from irivermetrics_spark.operators import ivf, pq

    rng = np.random.default_rng(33)
    centers = rng.standard_normal((5, 32))
    vecs = np.concatenate([c + 0.15 * rng.standard_normal((24, 32)) for c in centers])
    pdf = pd.DataFrame({"vec_id": np.arange(len(vecs)),
                        "embedding": [v.astype(np.float32).tolist() for v in vecs]})
    em = spark.createDataFrame(pdf)
    q = em.filter(F.col("vec_id") % 17 == 3)
    C = ivf.train_centroids(em, n_lists=5, sample=128, iters=5)
    books = pq.train_pq(em, m=8, k=16, sample=128, iters=5)
    flat = pq.pq_topk(em, q, books, topk=4, shortlist=10, round_to=6).toPandas()
    comp = pq.ivf_pq_topk(em, q, C, books, topk=4, nprobe=5, shortlist=10,
                          round_to=6).toPandas()
    key = ["query_id", "neighbor_id", "cosine", "rank"]
    assert flat[key].sort_values(key).values.tolist() == \
        comp[key].sort_values(key).values.tolist()


def test_ivf_pq_recall_at_partial_probe(spark):
    """nprobe < n_lists on clustered data: the routed candidate set is a
    strict subset yet recall stays high — the operating point the
    composition exists for."""
    from irivermetrics_spark.operators import ivf, pq

    rng = np.random.default_rng(34)
    centers = rng.standard_normal((6, 32))
    vecs = np.concatenate([c + 0.1 * rng.standard_normal((30, 32)) for c in centers])
    pdf = pd.DataFrame({"vec_id": np.arange(len(vecs)),
                        "embedding": [v.astype(np.float32).tolist() for v in vecs]})
    em = spark.createDataFrame(pdf)
    q = em.filter(F.col("vec_id") < 5)
    C = ivf.train_centroids(em, n_lists=6, sample=256, iters=6)
    books = pq.train_pq(em, m=8, k=32, sample=256, iters=6)
    brute = brute_topk(em, q, k=5).toPandas()
    approx = pq.ivf_pq_topk(em, q, C, books, topk=5, nprobe=2, shortlist=8).toPandas()
    hits = 0
    for qid in range(5):
        b = set(brute[brute.query_id == qid].neighbor_id)
        a = set(approx[approx.query_id == qid].neighbor_id)
        hits += len(a & b)
    assert hits / 25 >= 0.8


def test_ivf_pq_index_reuse_identical(spark):
    """ivf_pq_topk(index=) — the persisted-index path a 10^9-row
    deployment uses — is value-transparent vs the direct call, and the
    index is one row per vector with (list_id, m codes)."""
    from irivermetrics_spark.operators import ivf, pq

    rng = np.random.default_rng(35)
    vecs = rng.standard_normal((90, 16))
    pdf = pd.DataFrame({"vec_id": np.arange(len(vecs)),
                        "embedding": [v.astype(np.float32).tolist() for v in vecs]})
    em = spark.createDataFrame(pdf)
    q = em.filter(F.col("vec_id") < 4)
    C = ivf.train_centroids(em, n_lists=4, sample=90, iters=4)
    books = pq.train_pq(em, m=4, k=16, sample=90, iters=4)
    idx = pq.ivf_pq_index(em, C, books).persist()
    ipdf = idx.toPandas()
    assert len(ipdf) == 90 and ipdf.list_id.between(0, 3).all()
    assert all(len(c) == 4 for c in ipdf.codes)
    direct = pq.ivf_pq_topk(em, q, C, books, topk=3, nprobe=4, shortlist=8,
                            round_to=6).toPandas()
    reused = pq.ivf_pq_topk(em, q, C, books, topk=3, nprobe=4, shortlist=8,
                            index=idx, round_to=6).toPandas()
    key = ["query_id", "neighbor_id", "rank"]
    assert direct[key].sort_values(key).values.tolist() == \
        reused[key].sort_values(key).values.tolist()
    idx.unpersist()


def test_ivf_pq_block_layout_invariant(spark):
    """enc_blocks / q_chunk must not change results (the lexsorted
    block-local cut argument, now composed with list routing)."""
    from irivermetrics_spark.operators import ivf, pq

    rng = np.random.default_rng(36)
    vecs = rng.standard_normal((80, 16))
    pdf = pd.DataFrame({"vec_id": np.arange(len(vecs)),
                        "embedding": [v.astype(np.float32).tolist() for v in vecs]})
    em = spark.createDataFrame(pdf)
    q = em.filter(F.col("vec_id") % 10 == 1)
    C = ivf.train_centroids(em, n_lists=4, sample=80, iters=4)
    books = pq.train_pq(em, m=4, k=16, sample=80, iters=4)
    key = ["query_id", "neighbor_id", "cosine", "rank"]
    outs = []
    for blocks, chunk in [(1, 4096), (3, 2), (7, 3)]:
        outs.append(pq.ivf_pq_topk(em, q, C, books, topk=3, nprobe=4,
                                   shortlist=8, round_to=6, enc_blocks=blocks,
                                   q_chunk=chunk).toPandas()[key]
                    .sort_values(key).values.tolist())
    assert outs[0] == outs[1] == outs[2]


def test_a9_stats_matches_pandas(spark):
    """A9 (dev-scope mean/stddev threshold) — board entry retired in r6
    for the ann_ivf_pq swap; semantics stay pinned here vs pandas."""
    import __spark_entry__ as entry

    got = entry._q_a9_stats(spark, "/root/testdata/sf0.001").toPandas()
    raw = pd.read_parquet("/root/testdata/sf0.001/customer.parquet")
    exp = raw.groupby("c_nationkey")["c_acctbal"].agg(["mean", "std"]).round(4)
    got = got.sort_values("c_nationkey").reset_index(drop=True)
    assert np.allclose(got.avg_bal, exp["mean"].to_numpy())
    assert np.allclose(got.sd_bal, exp["std"].to_numpy())


def test_haversine_retired_entry_still_matches_duckdb(spark):
    """haversine_oracle was retired from the driver board in r6 (its
    SQL lives verbatim inside the knn_pools oracle, which re-ranks by
    it); the standalone entry stays pinned here against the retired
    DuckDB SQL."""
    import duckdb

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = entry._q_haversine_oracle(spark, sf).toPandas()
    con = duckdb.connect()
    con.sql(f"create view events as select * from '{sf}/events.parquet'")
    want = con.sql(entry.HAVERSINE_RETIRED_SQL).df()
    assert int(got.n_pairs[0]) == int(want.n_pairs[0])
    for c in ("avg_dist_m", "max_dist_m", "min_dist_m"):
        assert np.isclose(got[c][0], want[c][0], atol=1e-4), c


def test_pip_retired_entry_still_matches_duckdb(spark):
    """pip_oracle was retired from the driver board in r6 (the same
    crossing-number rule is hash-pinned with exact operand order
    inside zonal_join_rows); the standalone entry stays pinned here
    against the retired DuckDB SQL."""
    import duckdb

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = entry._q_pip_oracle(spark, sf).toPandas().sort_values("inside").reset_index(drop=True)
    con = duckdb.connect()
    con.sql(f"create view events as select * from '{sf}/events.parquet'")
    want = con.sql(entry.PIP_RETIRED_SQL).df().sort_values("inside").reset_index(drop=True)
    assert got.inside.tolist() == want.inside.tolist()
    assert got.n_points.tolist() == want.n_points.tolist()
    assert np.allclose(got.sum_x.to_numpy(), want.sum_x.to_numpy(), atol=1e-4)


def test_u1_retired_entry_still_matches_duckdb(spark):
    """u1_union was retired from the driver board in r6 (slot given to
    c4_line_dedup); the union/distinct entry stays pinned here against
    the retired DuckDB SQL."""
    import duckdb

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = (entry._q_u1_union(spark, sf).toPandas()
           .sort_values("c_nationkey").reset_index(drop=True))
    con = duckdb.connect()
    con.sql(f"create view customer as select * from '{sf}/customer.parquet'")
    want = (con.sql(entry.U1_RETIRED_SQL).df()
            .sort_values("c_nationkey").reset_index(drop=True))
    assert got.c_nationkey.tolist() == want.c_nationkey.tolist()
    assert got.n_selected.tolist() == want.n_selected.tolist()


def test_a3_retired_entry_still_matches_duckdb(spark):
    """a3_cond_sum was retired from the driver board in r7 (slot given
    to bpe_tokens); the conditional-sum entry stays pinned here."""
    import duckdb

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = (entry._q_a3_cond_sum(spark, sf).toPandas()
           .sort_values("event_type").reset_index(drop=True))
    con = duckdb.connect()
    con.sql(f"create view events as select * from '{sf}/events.parquet'")
    want = (con.sql(entry.A3_RETIRED_SQL).df()
            .sort_values("event_type").reset_index(drop=True))
    assert got.event_type.tolist() == want.event_type.tolist()
    assert got.ra_sum.tolist() == want.ra_sum.tolist()


def test_tokens_bpe_retired_entry_still_matches_duckdb(spark):
    """text_tokens_bpe was retired from the driver board in r7
    (superseded by the trained bpe_tokens); the segment-count stand-in
    stays pinned here."""
    import duckdb

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = (entry._q_text_tokens_bpe(spark, sf).toPandas()
           .sort_values("lang").reset_index(drop=True))
    con = duckdb.connect()
    con.sql(f"create view documents as select * from '{sf}/documents.parquet'")
    want = (con.sql(entry.TOKENS_BPE_RETIRED_SQL).df()
            .sort_values("lang").reset_index(drop=True))
    assert got.lang.tolist() == want.lang.tolist()
    assert got.total_bpe_tokens.tolist() == want.total_bpe_tokens.tolist()
    assert got.avg_bpe_tokens.tolist() == [round(v, 6) for v in want.avg_bpe_tokens]


def test_a2_retired_entry_still_matches_duckdb(spark):
    """a2_cond_avg was retired from the driver board in r7 (slot given
    to html_text); the conditional-avg entry stays pinned here."""
    import duckdb

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = (entry._q_a2_cond_avg(spark, sf).toPandas()
           .sort_values("event_type").reset_index(drop=True))
    con = duckdb.connect()
    con.sql(f"create view events as select * from '{sf}/events.parquet'")
    want = (con.sql(entry.A2_RETIRED_SQL).df()
            .sort_values("event_type").reset_index(drop=True))
    assert got.event_type.tolist() == want.event_type.tolist()
    assert got.avg_above_50.tolist() == pytest.approx(want.avg_above_50.tolist())


def test_o2_retired_entry_still_matches_duckdb(spark):
    """o2_rank was retired from the driver board in r7 (slot given to
    url_normalize); the dense-rank entry stays pinned here."""
    import duckdb

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = (entry._q_o2_rank(spark, sf).toPandas()
           .sort_values(["nationkey", "suppkey"]).reset_index(drop=True))
    con = duckdb.connect()
    con.sql(f"create view supplier as select * from '{sf}/supplier.parquet'")
    want = (con.sql(entry.O2_RETIRED_SQL).df()
            .sort_values(["nationkey", "suppkey"]).reset_index(drop=True))
    assert got.suppkey.tolist() == want.suppkey.tolist()
    assert got.bal_rank.tolist() == want.bal_rank.tolist()


def test_clusters_retired_entry_still_matches_duckdb(spark):
    """dedup_clusters was retired from the driver board in r7 (slot
    given to exif_probe; the resolver stays green via dedup_pipeline);
    the chained-pair clustering entry stays pinned here."""
    import duckdb

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = (entry._q_dedup_clusters(spark, sf).toPandas()
           .sort_values("id").reset_index(drop=True))
    con = duckdb.connect()
    con.sql(f"create view documents as select * from '{sf}/documents.parquet'")
    want = (con.sql(entry.CLUSTERS_RETIRED_SQL).df()
            .sort_values("id").reset_index(drop=True))
    assert got.id.tolist() == want.id.tolist()
    assert got.cluster.tolist() == want.cluster.tolist()
