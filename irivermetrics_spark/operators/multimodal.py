"""Multimodal binary-column operators: decode / resize / frame-sample /
feature-extract over opaque ``binary`` payloads.

Images and video are carried as BinaryType columns with typed
metadata; all processing is batched Arrow ``mapInPandas`` — the Spark
plumbing (schemas, partitioning, batch shapes) is real and tested.
Every format decodes for real with zero external libraries: the
engine's own raster formats (codecs.py), JPEG (kernels/jpeg.py), PNG
(kernels/png.py), WebP — lossless VP8L (kernels/webp.py), lossy VP8
keyframes with alpha (kernels/vp8.py), animated (kernels/webpanim.py)
— GIF incl. composited animations (kernels/gif.py) and BMP incl. RLE8
(kernels/bmp.py) are all from-scratch codecs; video payloads use the
engine raster container (concatenated frames), and the single swap-in
point for any further external codec (mp4 etc.) is ``_decode_any``.

- resize: real nearest-neighbor + block-mean downsample (pure numpy)
- frame_sample: video = concatenated raster frames; every k-th frame
  is re-encoded as its own image row (explode pattern)
- features: per-payload brightness/band stats + phash verification
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import codecs

RESIZED_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string"
FRAMES_SCHEMA = "video_id string, frame_idx int, bytes binary, w int, h int, fmt string"


def _decode_any(buf: bytes, fmt: str) -> np.ndarray:
    """Single swap-in point for real codecs.

    ``jpeg`` is decoded by the engine's own from-scratch baseline
    codec (kernels/jpeg.py — full baseline JFIF incl. 4:2:0), ``png``
    by the from-scratch RFC 2083 codec (kernels/png.py — all five
    scanline filters, palette/tRNS, stdlib-zlib DEFLATE), and ``webp``
    by the container router in kernels/webp.decode_webp_gray16 —
    lossless VP8L (kernels/webp.py: all four transforms, color cache,
    LZ77, meta prefix codes) AND, since r6, lossy VP8 keyframes
    (kernels/vp8.py: full RFC 6386 intra pipeline incl. both loop
    filters, bit-exact vs libwebp goldens) with VP8X/ALPH alpha.
    The web's dominant image formats need no external library. Sample
    values stay in their native 8-bit range (0-255) widened to the
    engine's uint16 plane dtype.
    """
    if fmt in (codecs.FMT_RAW16, codecs.FMT_QLOSSY):
        return codecs.decode_image(buf)
    if fmt == "jpeg":
        from ..kernels import jpeg

        return jpeg.decode_baseline(bytes(buf)).astype(np.uint16)
    if fmt == "png":
        from ..kernels import png

        return png.decode_png(bytes(buf)).astype(np.uint16)
    if fmt == "webp":
        from ..kernels import webp

        return webp.decode_webp_gray16(bytes(buf))
    if fmt == "gif":
        from ..kernels import gif

        return gif.decode_gif(bytes(buf))
    if fmt == "bmp":
        from ..kernels import bmp

        return bmp.decode_bmp(bytes(buf))
    raise ValueError(f"unknown fmt {fmt!r}")


def with_format_detail(images: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Adds ``fmt_detail`` (magic-byte subformat, e.g. 'webp-vp8l' vs
    lossy 'webp-vp8' from the RIFF chunk tag) and ``decodable``
    (whether the engine's codecs handle it) — the router a web-crawl
    table filters on BEFORE the decode stage, so unsupported payloads
    divert to a quarantine sink instead of failing tasks. Header peek
    only (16 bytes), vectorized pandas UDF."""
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def sniff(bufs: pd.Series) -> pd.Series:
        return pd.Series([codecs.sniff_format(b) for b in bufs])

    out = images.withColumn("fmt_detail", sniff(bytes_col))
    dec = F.col("fmt_detail").isin(*sorted(codecs.DECODABLE_DETAILS))
    return out.withColumn("decodable", dec)


IMAGE_INFO_SCHEMA = ("fmt_detail string, width int, height int, nbands int, "
                     "n_frames int, decodable boolean")


def with_image_info(images: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Adds header-only metadata columns (``fmt_detail``, ``width``,
    ``height``, ``nbands``, ``n_frames``, ``decodable``) via
    codecs.probe_image_info — the resolution/band/frame-count
    inventory a crawl table filters on BEFORE paying decode cost
    (e.g. ``width >= 256 AND n_frames = 1``). Fixed headers only —
    O(bytes-read) per row is tens of bytes, not the payload — so the
    whole-table pass is scan-bound, not CPU-bound. Vectorized pandas
    UDF returning one struct column, exploded into plain columns
    (null shape fields = corrupt/truncated header, never a task
    failure)."""
    from pyspark.sql import functions as F

    @F.pandas_udf(f"struct<{IMAGE_INFO_SCHEMA}>")
    def probe(bufs: pd.Series) -> pd.DataFrame:
        return pd.DataFrame([codecs.probe_image_info(b) for b in bufs])

    out = images.withColumn("_info", probe(bytes_col))
    for field in ("fmt_detail", "width", "height", "nbands", "n_frames", "decodable"):
        out = out.withColumn(field, F.col("_info")[field])
    return out.drop("_info")


EXIF_INFO_SCHEMA = ("orientation int, make string, model string, "
                    "datetime_original string, gps_lat double, "
                    "gps_lon double, exif_error string")


def with_exif(images: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Adds EXIF metadata columns (``orientation``, ``make``,
    ``model``, ``datetime_original``, ``gps_lat``, ``gps_lon``,
    ``exif_error``) via the header-only kernels/exif.py walk — the
    JPEG APP1 segment is ≤64 KB by framing, so the pass never touches
    pixel data. Orientation feeds ``resize_images(orient=True)`` (a
    rotated duplicate must not phash differently); GPS tags are the
    PII inventory a curation pipeline must surface before publishing
    a corpus. Rows without EXIF get all-NULL fields; malformed blobs
    set ``exif_error`` instead of failing the task."""
    from pyspark.sql import functions as F

    from irivermetrics_spark.kernels import exif as exifk

    @F.pandas_udf(f"struct<{EXIF_INFO_SCHEMA}>")
    def probe(bufs: pd.Series) -> pd.DataFrame:
        # hostile EXIF can type any tag any way (orientation as ASCII,
        # multi-count values...); coerce defensively so a weird blob
        # sets exif_error instead of crashing the Arrow conversion
        def _i(v):
            try:
                return int(v) if not isinstance(v, (list, bytes)) else None
            except (TypeError, ValueError):
                return None

        def _s(v):
            return v if isinstance(v, str) else None

        def _f(v):
            return float(v) if isinstance(v, (int, float)) else None

        rows = []
        for b in bufs:
            d = exifk.parse_exif(b)
            dto = _s(d.get("datetime_original")) or _s(d.get("datetime"))
            o = _i(d.get("orientation"))
            err = d.get("error")
            if err is None and o is None and d.get("orientation") is not None:
                err = f"non-integer orientation {d.get('orientation')!r}"
            rows.append(dict(
                orientation=o, make=_s(d.get("make")),
                model=_s(d.get("model")), datetime_original=dto,
                gps_lat=_f(d.get("gps_lat")), gps_lon=_f(d.get("gps_lon")),
                exif_error=err))
        return pd.DataFrame(rows)

    out = images.withColumn("_exif", probe(bytes_col))
    for field in ("orientation", "make", "model", "datetime_original",
                  "gps_lat", "gps_lon", "exif_error"):
        out = out.withColumn(field, F.col("_exif")[field])
    return out.drop("_exif")


DEFAULT_AR_BUCKETS = ((1, 1), (4, 3), (3, 4), (16, 9), (9, 16), (2, 1),
                      (1, 2))


def with_ar_bucket(images: DataFrame, buckets=DEFAULT_AR_BUCKETS,
                   width_col: str = "width",
                   height_col: str = "height") -> DataFrame:
    """Adds ``ar_bucket`` (e.g. '16:9') — the nearest aspect-ratio
    bucket by |log(w/h) − log(bw/bh)|, the assignment image-training
    batchers use so one batch shares a crop/resize geometry (mixing
    portrait and landscape in a batch wastes pixels on padding).
    Consumes the header-only probe's width/height columns
    (``with_image_info``) — no decode; pure JVM expressions (a literal
    least() chain over the bucket list — known at plan time), zero
    Python, zero shuffle. NULL/non-positive dims → NULL bucket."""
    import math

    w, h = F.col(width_col), F.col(height_col)
    log_ar = F.log(w.cast("double") / h.cast("double"))
    pairs = [(f"{bw}:{bh}", math.log(bw / bh)) for bw, bh in buckets]
    best = F.array_sort(F.array(*[
        F.struct(F.abs(log_ar - F.lit(ref)).alias("d"),
                 F.lit(label).alias("label"))
        for label, ref in pairs]))[0]["label"]
    valid = w.isNotNull() & h.isNotNull() & (w > 0) & (h > 0)
    return images.withColumn("ar_bucket", F.when(valid, best))


def resize_image(arr: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """(bands, h, w) -> (bands, out_h, out_w).

    Downscaling uses exact block-mean when the ratio is integral,
    else nearest-neighbor sampling (both pure numpy, deterministic).
    """
    b, h, w = arr.shape
    if h % out_h == 0 and w % out_w == 0:
        fy, fx = h // out_h, w // out_w
        return arr.reshape(b, out_h, fy, out_w, fx).mean(axis=(2, 4)).astype(arr.dtype)
    yi = (np.arange(out_h) * (h / out_h)).astype(int).clip(0, h - 1)
    xi = (np.arange(out_w) * (w / out_w)).astype(int).clip(0, w - 1)
    return arr[:, yi[:, None], xi[None, :]]


def resize_images(images: DataFrame, out_w: int, out_h: int,
                  on_error: str = "raise", orient: bool = False) -> DataFrame:
    """Image table -> resized image table (raw16-encoded).

    Caption (and any other non-payload column) passes through UNTOUCHED
    via a post-transform equi-join on image_id — the per-row caption-
    equality invariant of the input contract holds by construction and
    the binary kernel never ships text columns through Arrow.

    ``on_error="quarantine"`` adds an ``error`` column and routes
    undecodable payloads (e.g. lossy-VP8 webp) there — bytes NULL,
    fmt = the sniffed subformat, error = the decode exception — instead
    of failing the task. Split with ``.where("error IS NULL")``.

    ``orient=True`` undoes the EXIF orientation tag before resizing
    (kernels/exif.py header walk + index-view transform) so rotated
    re-uploads of the same photo downstream phash/embed identically.
    """
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error {on_error!r} (raise|quarantine)")
    quarantine = on_error == "quarantine"
    schema = RESIZED_SCHEMA + (", error string" if quarantine else "")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from irivermetrics_spark.kernels import exif as exifk

        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                # NULL payloads must reach the handler, not crash it:
                # bytes(None) raises, and sniff_format guards None itself
                raw = None if rec.bytes is None else bytes(rec.bytes)
                try:
                    arr = _decode_any(raw, rec.fmt)
                    if orient:
                        o = exifk.parse_exif(raw).get("orientation")
                        # hostile tags may type orientation as anything;
                        # only a sane 2..8 int triggers a transform
                        if isinstance(o, int) and 2 <= o <= 8:
                            arr = np.ascontiguousarray(
                                exifk.apply_orientation(arr, o))
                    small = resize_image(arr, out_w, out_h)
                    row = dict(
                        image_id=rec.image_id,
                        bytes=codecs.encode_image(small.astype(np.uint16), codecs.FMT_RAW16),
                        w=out_w, h=out_h, fmt=codecs.FMT_RAW16,
                    )
                    if quarantine:
                        row["error"] = None
                except Exception as e:
                    if not quarantine:
                        raise
                    row = dict(image_id=rec.image_id, bytes=None, w=-1, h=-1,
                               fmt=codecs.sniff_format(raw),
                               error=f"{type(e).__name__}: {e}")
                rows.append(row)
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c.split()[0]: [] for c in schema.split(", ")})

    out = images.select("image_id", "bytes", "fmt").mapInPandas(kernel, schema)
    extra = [c for c in images.columns if c not in ("bytes", "w", "h", "fmt")]
    if extra != ["image_id"]:
        out = out.join(images.select(*extra), "image_id")
    return out


def encode_video(frames: np.ndarray) -> bytes:
    """Engine 'video': frame-count header + concatenated raw16 frames."""
    parts = [np.asarray([frames.shape[0]], dtype="<u4").tobytes()]
    for f in frames:
        parts.append(codecs.encode_image(f, codecs.FMT_RAW16))
    return b"".join(parts)


def frame_sample(videos: DataFrame, every_k: int = 5,
                 on_error: str = "raise") -> DataFrame:
    """Video table (video_id, bytes, fmt) -> every k-th frame as an
    image row.  Real container parsing for the engine format AND for
    animated WebP (kernels/webpanim: ANMF chain composited with
    libwebp semantics, frames re-encoded as 4-band ARGB raw16 rows)
    AND animated GIF (kernels/gif.sample_frames: GCE transparency +
    disposal compositing); external containers (mp4 etc.) stub at
    _decode_any's level of the deployment.

    ``on_error="quarantine"`` (GIF path): a corrupt frame mid-animation
    keeps the frames composited before it instead of failing the task.
    """
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error {on_error!r} (raise|quarantine)")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                buf = bytes(rec.bytes)
                sniffed = codecs.sniff_format(buf)
                if sniffed == "webp-vp8x-anim":
                    from ..kernels import webpanim

                    frames, _, info = webpanim.decode_webp_anim(
                        buf, every_k=every_k)
                    for j, fr in enumerate(frames):
                        rows.append(dict(
                            video_id=rec.video_id, frame_idx=j * every_k,
                            bytes=codecs.encode_image(
                                fr.astype(np.uint16), codecs.FMT_RAW16),
                            w=info.canvas_w, h=info.canvas_h,
                            fmt=codecs.FMT_RAW16))
                    continue
                if sniffed == "gif":
                    from ..kernels import gif as gifk

                    # one compositing pass over the animation (frames
                    # are deltas, so every frame decodes regardless of
                    # the sampling stride — same as the webpanim path);
                    # only sampled frames pay the plane conversion
                    try:
                        for j, fr in gifk.sample_frames(buf, every_k):
                            rows.append(dict(
                                video_id=rec.video_id, frame_idx=j,
                                bytes=codecs.encode_image(fr, codecs.FMT_RAW16),
                                w=int(fr.shape[2]), h=int(fr.shape[1]),
                                fmt=codecs.FMT_RAW16))
                    except ValueError:
                        if on_error == "raise":
                            raise
                        # quarantine: keep the frames composited before
                        # the corruption, drop the unreachable tail
                    continue
                n = int(np.frombuffer(buf, dtype="<u4", count=1)[0])
                off = 4
                for i in range(n):
                    # decode header to find the frame length
                    nbands = buf[off + 5]
                    w, h = np.frombuffer(buf, dtype="<u2", count=2, offset=off + 6)
                    length = 10 + int(nbands) * int(w) * int(h) * 2
                    if i % every_k == 0:
                        # header-only slice: consumers decode on demand
                        frame = buf[off : off + length]
                        rows.append(dict(video_id=rec.video_id, frame_idx=i, bytes=frame,
                                         w=int(w), h=int(h), fmt=codecs.FMT_RAW16))
                    off += length
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c.split()[0]: [] for c in FRAMES_SCHEMA.split(", ")})

    return videos.select("video_id", "bytes").mapInPandas(kernel, FRAMES_SCHEMA)


def embed_images(images: DataFrame, pool_h: int = 4, pool_w: int = 6,
                 on_error: str = "raise") -> DataFrame:
    """Image -> embedding (array<float>): per-band mean/std + a
    block-mean-pooled grayscale grid, L2-normalized.

    A REAL (not stubbed) content embedding for the engine's raster
    format — deterministic pure numpy, robust to qlossy re-encoding —
    that bridges the multimodal column to the ANN/near-dup stack:
    ``similarity.cosine_neardup_pairs(embed_images(imgs))`` is the
    image-near-duplicate detector (copies, re-encodes, tiny edits),
    complementing the exact phash column. A deployment swaps a learned
    encoder in at the same (id, embedding) seam.

    ``on_error="quarantine"``: undecodable payloads get no embedding
    row (near-dup/ANN consumers key on image_id).
    """
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error {on_error!r} (raise|quarantine)")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, vecs = [], []
            for rec in pdf.itertuples(index=False):
                try:
                    raw = None if rec.bytes is None else bytes(rec.bytes)
                    arr = _decode_any(raw, rec.fmt).astype(np.float64) / 10000.0
                except Exception:
                    if on_error == "quarantine":
                        continue  # undecodable rows simply get no embedding
                    raise
                stats = np.concatenate([arr.mean(axis=(1, 2)), arr.std(axis=(1, 2))])
                gray = arr.mean(axis=0, keepdims=True)
                grid = resize_image(gray, pool_w, pool_h).ravel()
                v = np.concatenate([stats, grid])
                v = v / max(float(np.linalg.norm(v)), 1e-12)
                ids.append(rec.image_id)
                vecs.append(v.astype(np.float32).tolist())
            yield pd.DataFrame({"image_id": ids, "embedding": vecs}) if ids else pd.DataFrame(
                {"image_id": pd.Series(dtype="str"), "embedding": pd.Series(dtype=object)})

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        kernel, "image_id string, embedding array<float>")


def phash_images(images: DataFrame, on_error: str = "raise") -> DataFrame:
    """Image -> 64-bit perceptual hash: (image_id, phash).

    Decode via the engine's own codecs (_decode_any) then
    codecs.phash64 (band-mean -> 8x8 block means -> median-threshold
    bits) in one batched ``mapInPandas`` pass — embarrassingly
    parallel, no shuffle, binary never leaves the executor.

    ``on_error="quarantine"`` adds an ``error`` column (phash NULL,
    error = the decode exception) instead of failing the task — the
    web-crawl contract shared with resize_images/embed_images.
    """
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error {on_error!r} (raise|quarantine)")
    quarantine = on_error == "quarantine"
    schema = "image_id string, phash long" + (", error string" if quarantine else "")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                raw = None if rec.bytes is None else bytes(rec.bytes)
                try:
                    row = dict(image_id=rec.image_id,
                               phash=codecs.phash64(_decode_any(raw, rec.fmt)))
                    if quarantine:
                        row["error"] = None
                except Exception as e:
                    if not quarantine:
                        raise
                    row = dict(image_id=rec.image_id, phash=None,
                               error=f"{type(e).__name__}: {e}")
                rows.append(row)
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c.split()[0]: [] for c in schema.split(", ")})

    return images.select("image_id", "bytes", "fmt").mapInPandas(kernel, schema)


IMAGE_QUALITY_SCHEMA = ("image_id string, sharpness double, luma_mean double, "
                        "luma_std double, frac_dark double, frac_bright double, "
                        "entropy double, border_frac double")


def _border_fraction(luma: "np.ndarray") -> float:
    """Letterbox/pillarbox detector: fraction of pixels inside the
    uniform border frame. A border run from an edge = consecutive
    rows (cols) whose every pixel equals that edge's corner value —
    stricter than 'row is constant', so gradients don't false-flag.
    1.0 for a fully uniform image."""
    h, w = luma.shape

    def run(rows):
        v = rows[0, 0]
        n = 0
        for r in rows:
            if (r == v).all():
                n += 1
            else:
                break
        return n

    top = run(luma)
    bot = run(luma[::-1]) if top < h else 0
    left = run(luma.T)
    right = run(luma.T[::-1]) if left < w else 0
    ih = max(h - top - bot, 0)
    iw = max(w - left - right, 0)
    return float((h * w - ih * iw) / (h * w))


def image_quality_metrics(arr: "np.ndarray", peak: float | None = None) -> dict:
    """Numpy definition of the per-image quality signals over a decoded
    (nbands, h, w) array — the curation filters a crawl pipeline cuts
    on before paying embedding cost:

    - ``sharpness``: variance of the 4-neighbour Laplacian of the
      band-mean image (blur detector — the classic variance-of-
      Laplacian rule; near-0 = flat or defocused)
    - ``luma_mean`` / ``luma_std``: band-mean intensity moments
    - ``frac_dark`` / ``frac_bright``: fraction of pixels below 2% /
      above 98% of ``peak`` (under/over-exposure); ``peak`` defaults
      to the engine's reflectance ceiling for uint16 payloads and the
      image's own dtype ceiling for 8-bit sources
    - ``entropy``: Shannon entropy (bits) of the 64-bin luma histogram
      scaled to ``peak`` (near-0 = synthetic/flat content)

    All O(pixels) vectorized numpy; deterministic.
    """
    if peak is None:
        peak = 255.0 if arr.dtype.itemsize == 1 else float(codecs.REFLECTANCE_MAX)
    # normalize FIRST: every signal lives in the [0, 1] intensity
    # domain, so thresholds compare across 8-bit web formats and
    # 16-bit reflectance payloads alike (jpeg/png/webp decode to
    # 0-255 values widened to uint16 — dtype alone can't tell)
    luma = arr.astype(np.float64).mean(axis=0) / peak
    lap = (4.0 * luma[1:-1, 1:-1] - luma[:-2, 1:-1] - luma[2:, 1:-1]
           - luma[1:-1, :-2] - luma[1:-1, 2:])
    sharp = float(lap.var()) if lap.size else 0.0
    n = luma.size
    hist = np.bincount(
        np.clip((luma * 64.0).astype(np.int64), 0, 63).ravel(), minlength=64)
    p = hist[hist > 0] / n
    return dict(
        sharpness=sharp,
        luma_mean=float(luma.mean()),
        luma_std=float(luma.std()),
        frac_dark=float((luma < 0.02).mean()),
        frac_bright=float((luma > 0.98).mean()),
        entropy=float(-(p * np.log2(p)).sum()),
        border_frac=_border_fraction(luma),
    )


def with_image_quality(images: DataFrame, peak: float | None = None,
                       on_error: str = "raise") -> DataFrame:
    """Image table -> per-image quality-signal table (decode + all six
    signals in ONE batched ``mapInPandas`` pass — same single-Python-
    stage, no-shuffle, binary-stays-on-executor shape as phash_images,
    with the same ``on_error="quarantine"`` crawl contract)."""
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error {on_error!r} (raise|quarantine)")
    quarantine = on_error == "quarantine"
    schema = IMAGE_QUALITY_SCHEMA + (", error string" if quarantine else "")
    null_row = dict(sharpness=None, luma_mean=None, luma_std=None,
                    frac_dark=None, frac_bright=None, entropy=None,
                    border_frac=None)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                raw = None if rec.bytes is None else bytes(rec.bytes)
                try:
                    row_peak = peak
                    if row_peak is None:
                        row_peak = (255.0 if rec.fmt in ("jpeg", "png", "webp",
                                                         "gif", "bmp")
                                    else float(codecs.REFLECTANCE_MAX))
                    row = dict(image_id=rec.image_id,
                               **image_quality_metrics(_decode_any(raw, rec.fmt), row_peak))
                    if quarantine:
                        row["error"] = None
                except Exception as e:
                    if not quarantine:
                        raise
                    row = dict(image_id=rec.image_id, **null_row,
                               error=f"{type(e).__name__}: {e}")
                rows.append(row)
            yield pd.DataFrame(rows) if rows else pd.DataFrame(
                {c.split()[0]: [] for c in schema.split(", ")})

    return images.select("image_id", "bytes", "fmt").mapInPandas(kernel, schema)


def phash_neardup(images: DataFrame, max_hamming: int = 3, n_blocks: int | None = None,
                  bucket_cap: int | None = None, on_error: str = "raise",
                  persisted_out: list | None = None) -> DataFrame:
    """Perceptual near-duplicate image pairs: (id_a, id_b, hamming)
    with Hamming(phash) <= max_hamming.

    The image-side analog of text SimHash dedup: one decode+hash pass
    (phash_images), then the SAME Manku pigeonhole block join
    (dedup.hamming_candidates) — a bucket equi-join, never all-pairs,
    with the same n_blocks scale rule and hot-bucket cap. Catches
    byte-level re-encodes (jpeg<->png<->webp of the same artwork) and
    light quantization; pair with ``embed_images`` + cosine near-dup
    for heavier edits.

    ``on_error="quarantine"`` drops undecodable payloads from the pair
    scan (they can never match) instead of failing the task; recover
    the dead-letter rows via ``phash_images(..., "quarantine")``.
    """
    from .dedup import hamming_candidates

    hashed = phash_images(images, on_error=on_error)
    if on_error == "quarantine":
        hashed = hashed.where(F.col("phash").isNotNull()).select("image_id", "phash")
    return hamming_candidates(hashed, "phash", "image_id", max_hamming, n_blocks,
                              bucket_cap, persisted_out, _caller="phash_neardup")
