"""SemDeDup semantic dedup (operators/semdedup.py) and perceptual-hash
image near-dup (multimodal.phash_images/phash_neardup over the shared
dedup.hamming_candidates pigeonhole join)."""

import numpy as np
import pandas as pd
import pytest

from irivermetrics_spark import codecs
from irivermetrics_spark.operators import multimodal, semdedup


def _emb_frame(spark, planted_dups=((1, 101), (2, 102), (3, 103))):
    """3 well-separated direction clusters in 8-dim + planted exact
    copies (id+100).  Cross-cluster cosine stays far below 0.9."""
    rng = np.random.default_rng(42)
    centers = np.eye(8)[:3] * 10.0
    rows = []
    for i in range(30):
        c = centers[i % 3]
        v = c + rng.normal(0, 0.3, 8)
        rows.append((i, (v / np.linalg.norm(v)).astype(np.float32).tolist()))
    base = {i: v for i, v in rows}
    for src, new in planted_dups:
        rows.append((new, base[src]))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    return spark.createDataFrame(pdf), rows


def _brute_pairs(rows, threshold):
    X = {i: np.asarray(v, dtype=np.float64) for i, v in rows}
    out = set()
    ids = sorted(X)
    for ai, a in enumerate(ids):
        for b in ids[ai + 1:]:
            c = float(X[a] @ X[b] / (np.linalg.norm(X[a]) * np.linalg.norm(X[b])))
            if round(c, 6) >= threshold:
                out.add((a, b))
    return out


def test_semdedup_exact_mode_matches_brute(spark):
    df, rows = _emb_frame(spark)
    got = semdedup.semdedup_pairs(df, n_clusters=1, threshold=0.999, round_to=6)
    got_pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert got_pairs == _brute_pairs(rows, 0.999)
    assert {(1, 101), (2, 102), (3, 103)} <= got_pairs


def test_semdedup_clustered_finds_all_intra_cluster_pairs(spark):
    df, rows = _emb_frame(spark)
    exact = _brute_pairs(rows, 0.999)
    got = semdedup.semdedup_pairs(df, n_clusters=3, threshold=0.999,
                                  round_to=6, seed=13, sample=64)
    got_pairs = {(r.id_a, r.id_b) for r in got.collect()}
    # identical vectors assign to the same centroid, and the planted
    # pairs are the only >=0.999 pairs — clustered mode must find all
    assert got_pairs == exact


def test_semdedup_keep_collapses_components(spark):
    # identical triple 5/105/205: pairwise cos == 1.0 -> one component,
    # keeper = min id even though only pair edges (not the full clique
    # necessarily) survive candidate generation
    df, rows = _emb_frame(spark, planted_dups=((5, 105), (5, 205)))
    kept = semdedup.semdedup_keep(df, n_clusters=1, threshold=0.999, round_to=6)
    ids = {r.vec_id for r in kept.select("vec_id").collect()}
    assert 5 in ids and 105 not in ids and 205 not in ids
    # expected keepers = min id of each connected component of the
    # brute pair graph (chance >=0.999 base pairs included)
    parent = {i: i for i, _ in rows}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in _brute_pairs(rows, 0.999):
        parent[find(b)] = find(a)
    comp = {}
    for i, _ in rows:
        comp.setdefault(find(i), set()).add(i)
    assert ids == {min(members) for members in comp.values()}


def test_semdedup_exact_plan_is_jvm_side(spark):
    # n_clusters=1 skips the assignment UDF entirely: the pair scan is
    # a pure JVM equi-join + array-expression cosine
    df, _ = _emb_frame(spark)
    plan = semdedup.semdedup_pairs(df, n_clusters=1, threshold=0.9)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_semdedup_rejects_bad_k(spark):
    df, _ = _emb_frame(spark)
    with pytest.raises(ValueError, match="n_clusters"):
        semdedup.semdedup_pairs(df, n_clusters=0)


def _artwork(seed: int = 0) -> np.ndarray:
    """(3, 32, 48) uint8 artwork with strong low-frequency structure:
    block means are well separated, so phash bits survive jpeg noise."""
    y, x = np.mgrid[0:32, 0:48]
    base = (x * 255.0 / 47.0 * 0.7 + y * 255.0 / 31.0 * 0.3)
    if seed:
        base = 255.0 - base
    return np.stack([base, base * 0.8 + 20, base * 0.6 + 40]).astype(np.uint8)


def _encode_variants(arr: np.ndarray) -> dict[str, tuple[bytes, str]]:
    from irivermetrics_spark.kernels import jpeg, png, webp

    argb = np.concatenate([np.full((1,) + arr.shape[1:], 255, np.uint8), arr])
    return {
        "raw16": (codecs.encode_image(arr.astype(np.uint16)), codecs.FMT_RAW16),
        "jpeg": (jpeg.encode_baseline(arr, 95), "jpeg"),
        "png": (png.encode_png(arr), "png"),
        "webp": (webp.encode_vp8l(argb), "webp"),
    }


def test_phash_images_matches_kernel(spark):
    arrs = {f"img{i}": _artwork(i) for i in range(2)}
    rows = [dict(image_id=k, bytes=codecs.encode_image(v.astype(np.uint16)),
                 fmt=codecs.FMT_RAW16) for k, v in arrs.items()]
    df = spark.createDataFrame(pd.DataFrame(rows))
    got = {r.image_id: r.phash for r in multimodal.phash_images(df).collect()}
    for k, v in arrs.items():
        assert got[k] == codecs.phash64(v.astype(np.uint16))


def test_phash_neardup_cross_codec(spark):
    # same artwork through 4 independent codecs -> all 6 pairs near;
    # the inverted artwork matches none of them
    rows = []
    for name, (buf, fmt) in _encode_variants(_artwork(0)).items():
        rows.append(dict(image_id=f"a_{name}", bytes=buf, fmt=fmt))
    rows.append(dict(image_id="b_raw16",
                     bytes=codecs.encode_image(_artwork(1).astype(np.uint16)),
                     fmt=codecs.FMT_RAW16))
    df = spark.createDataFrame(pd.DataFrame(rows))
    pairs = multimodal.phash_neardup(df, max_hamming=6).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    a_ids = sorted(f"a_{n}" for n in ("raw16", "jpeg", "png", "webp"))
    want = {(a_ids[i], a_ids[j]) for i in range(4) for j in range(i + 1, 4)}
    assert got == want
    assert all(r.hamming <= 6 for r in pairs)


def test_phash_neardup_quarantine_skips_bad_payloads(spark):
    rows = [dict(image_id=f"a_{n}", bytes=b, fmt=f)
            for n, (b, f) in _encode_variants(_artwork(0)).items()]
    rows.append(dict(image_id="broken", bytes=b"\x89PNG\r\nnot-a-png", fmt="png"))
    df = spark.createDataFrame(pd.DataFrame(rows))
    with pytest.raises(Exception):
        multimodal.phash_neardup(df, max_hamming=6).collect()
    pairs = multimodal.phash_neardup(df, max_hamming=6, on_error="quarantine").collect()
    ids = {i for r in pairs for i in (r.id_a, r.id_b)}
    assert "broken" not in ids and len(pairs) == 6
    ph = multimodal.phash_images(df, on_error="quarantine").toPandas()
    bad = ph[ph.image_id == "broken"].iloc[0]
    assert pd.isna(bad.phash) and bad.error
    assert ph[ph.image_id != "broken"].error.isna().all()


def test_phash_neardup_plan_single_python_stage(spark):
    # exactly one MapInPandas (the decode+hash kernel); the banding,
    # bucket join and hamming filter are all JVM-side
    rows = [dict(image_id=f"a_{n}", bytes=b, fmt=f)
            for n, (b, f) in _encode_variants(_artwork(0)).items()]
    df = spark.createDataFrame(pd.DataFrame(rows))
    plan = multimodal.phash_neardup(df, max_hamming=4)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_keep_canonical_string_ids_both_paths(spark):
    # phash pairs carry string image_ids; cluster/keeper must work
    # without a long cast — keeper = lexicographic min per component,
    # on both the driver union-find and the forced distributed
    # min-label-propagation path (edge_limit=0)
    from irivermetrics_spark.operators import dedup

    rows = [dict(image_id=f"a_{n}", bytes=b, fmt=f)
            for n, (b, f) in _encode_variants(_artwork(0)).items()]
    rows.append(dict(image_id="b_raw16",
                     bytes=codecs.encode_image(_artwork(1).astype(np.uint16)),
                     fmt=codecs.FMT_RAW16))
    df = spark.createDataFrame(pd.DataFrame(rows))
    pairs = multimodal.phash_neardup(df, max_hamming=6).persist()
    for limit in (1_000_000, 0):
        clusters = dedup.cluster_duplicates(pairs, edge_limit=limit).toPandas()
        assert set(clusters.cluster) == {"a_jpeg"}  # lexicographic min
        assert set(clusters.id) == {"a_jpeg", "a_png", "a_raw16", "a_webp"}
        kept = dedup.keep_canonical(df, pairs, id_col="image_id", edge_limit=limit)
        assert sorted(r.image_id for r in kept.select("image_id").collect()) == [
            "a_jpeg", "b_raw16"]
    pairs.unpersist()


def test_cluster_duplicates_string_empty_pairs(spark):
    from irivermetrics_spark.operators import dedup

    empty = spark.createDataFrame([], "id_a string, id_b string")
    assert dedup.cluster_duplicates(empty).count() == 0
