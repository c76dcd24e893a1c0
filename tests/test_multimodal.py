"""Multimodal binary-column plumbing: resize and frame sampling — real
Spark schemas/batches, engine-format decode for real, external codecs
stubbed."""

import numpy as np
import pandas as pd
import pytest

from irivermetrics_spark import codecs
from irivermetrics_spark.operators import multimodal


def test_resize_block_mean_exact():
    arr = np.arange(4 * 8 * 8, dtype=np.uint16).reshape(4, 8, 8)
    out = multimodal.resize_image(arr, 4, 4)
    assert out.shape == (4, 4, 4)
    assert out[0, 0, 0] == arr[0, :2, :2].mean().astype(np.uint16)


def test_resize_images_spark(spark):
    rng = np.random.default_rng(0)
    rows = []
    for i in range(6):
        arr = rng.integers(0, 20000, (4, 16, 24), dtype=np.uint16)
        rows.append(dict(image_id=f"img{i}", bytes=codecs.encode_image(arr),
                         fmt=codecs.FMT_RAW16))
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = multimodal.resize_images(df, 12, 8).toPandas()
    assert len(out) == 6
    decoded = codecs.decode_image(bytes(out.iloc[0]["bytes"]))
    assert decoded.shape == (4, 8, 12)


def test_external_codec_stub_raises():
    # jpeg/png/webp are all REAL from-scratch decoders (kernels/
    # jpeg.py, png.py, webp.py) — bad input fails loudly
    with pytest.raises(ValueError, match="RIFF|VP8L"):
        multimodal._decode_any(b"RIFF\x04\x00\x00\x00WEBP", "webp")
    with pytest.raises(ValueError, match="truncated|SOS"):
        multimodal._decode_any(b"\xff\xd8\xff", "jpeg")
    with pytest.raises(ValueError, match="PNG"):
        multimodal._decode_any(b"\x89PNG\r\n", "png")


def test_decode_any_routes_jpeg():
    from irivermetrics_spark.kernels import jpeg

    img = np.stack([np.full((16, 24), v, dtype=np.uint8) for v in (30, 120, 210)])
    out = multimodal._decode_any(jpeg.encode_baseline(img, 90), "jpeg")
    assert out.dtype == np.uint16 and out.shape == (3, 16, 24)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


def test_frame_sample_spark(spark):
    rng = np.random.default_rng(1)
    frames = rng.integers(0, 20000, (12, 4, 6, 10), dtype=np.uint16)
    buf = multimodal.encode_video(frames)
    df = spark.createDataFrame(pd.DataFrame([dict(video_id="v0", bytes=buf)]))
    out = multimodal.frame_sample(df, every_k=5).toPandas().sort_values("frame_idx")
    assert out.frame_idx.tolist() == [0, 5, 10]
    got = codecs.decode_image(bytes(out.iloc[1]["bytes"]))
    assert np.array_equal(got, frames[5])


def test_image_embedding_neardup_detects_reencodes(spark):
    """embed_images bridges the binary column to the ANN stack: a qlossy
    re-encode of an image must be an embedding near-duplicate of its
    original (cosine ~1), found through the SRP-LSH pair path."""
    import numpy as np

    from irivermetrics_spark import codecs, synth
    from irivermetrics_spark.operators import multimodal, similarity
    from irivermetrics_spark.plans import pipeline

    fx = synth.make_fixture(w=60, h=24, n_dates=6, n_sections=2, seed=13)
    pdf = fx.images.copy()[["image_id", "bytes", "fmt"]]
    dups = []
    for i in range(3):  # re-encode the first 3 images lossily
        arr = codecs.decode_image(bytes(pdf.iloc[i]["bytes"]))
        dups.append(dict(image_id=f"dup_{pdf.iloc[i]['image_id']}",
                         bytes=codecs.encode_image(arr, codecs.FMT_QLOSSY),
                         fmt=codecs.FMT_QLOSSY))
    import pandas as pd
    allimg = pd.concat([pdf, pd.DataFrame(dups)], ignore_index=True)
    images = spark.createDataFrame(allimg)

    emb = multimodal.embed_images(images)
    got = emb.toPandas()
    assert len(got) == len(allimg)
    assert all(abs(np.linalg.norm(np.asarray(v)) - 1.0) < 1e-5 for v in got.embedding)

    pairs = similarity.cosine_neardup_pairs(
        emb, threshold=0.9999, id_col="image_id"
    ).toPandas()
    found = {tuple(sorted(p)) for p in zip(pairs.id_a, pairs.id_b)}
    for i in range(3):
        orig = pdf.iloc[i]["image_id"]
        assert tuple(sorted((orig, f"dup_{orig}"))) in found, (orig, found)


def test_resize_preserves_caption_and_phash(spark):
    """Per-row invariant of the input contract: caption (and other
    metadata) survives the binary transform byte-identically."""
    from irivermetrics_spark import synth
    from irivermetrics_spark.plans import pipeline as plans_pipeline

    fx = synth.make_fixture(w=40, h=16, n_dates=3, n_sections=1, seed=27)
    images = plans_pipeline.images_df(spark, fx.images)
    out = multimodal.resize_images(images, 10, 8).toPandas().set_index("image_id")
    src = fx.images.set_index("image_id")
    assert set(out.index) == set(src.index)
    for iid in src.index:
        assert out.loc[iid, "caption"] == src.loc[iid, "caption"]
        assert int(out.loc[iid, "phash"]) == int(src.loc[iid, "phash"])
    assert (out.w == 10).all() and (out.h == 8).all()


def test_ar_bucket_assignment(spark):
    """Aspect-ratio bucketing from probe dims: truth table, log-space
    nearest (1920x1080 is 16:9, 1000x1000 is 1:1, 640x1136 is 9:16),
    NULL/degenerate dims, and a pure-JVM plan."""
    from irivermetrics_spark.operators import multimodal

    rows = [(1, 1920, 1080), (2, 1000, 1000), (3, 640, 1136),
            (4, 800, 600), (5, 599, 800), (6, None, 100), (7, 100, 0)]
    df = spark.createDataFrame(rows, "image_id int, width int, height int")
    out = multimodal.with_ar_bucket(df)
    got = {r.image_id: r.ar_bucket for r in out.collect()}
    assert got[1] == "16:9" and got[2] == "1:1" and got[3] == "9:16"
    assert got[4] == "4:3" and got[5] == "3:4"
    assert got[6] is None and got[7] is None
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan \
        and "MapInPandas" not in plan
