"""Image decode + water mask + tiling: the module-1 stage (S2/C4).

Turns the image table (image_id, bytes, w, h, fmt, caption, phash)
into sparse water/nodata pixel points with their hex-cell key:

    (image_id, px, py, value int8 in {1,-1}, cell long)

All heavy work happens inside a batched ``mapInArrow`` kernel —
decode, NDWI thresholding, cell assignment are vectorized numpy per
image, and the output record batches are assembled zero-copy from
those arrays; only water and nodata pixels are emitted (dry pixels are
implicit zeros), so output volume tracks actual surface water, not
grid size. The scene/date columns are computed per image inside the
kernel (reference C1 date-from-filename parity,
src/utils/wd_batch.py:345-360).

The kernel emits ``image_id`` and ``scene`` as dictionary columns (a
few KB of text per batch instead of one string per point row). Two
consumers run it: :func:`decode_points` decodes them to plain utf8 for
Spark, and the mask-table sink :func:`write_mask_table` writes the
batches to parquet from the tasks themselves, so no per-row text
crosses into the JVM at all.

Scale notes: the stage is embarrassingly parallel per image row;
emitting point rows (not tiles) makes every downstream stage an
ordinary relational op. ``spark.sql.execution.arrow.maxRecordsPerBatch``
bounds Arrow batch memory for wide binary rows.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import codecs
from ..functions import cellindex
from ..kernels import water

POINTS_SCHEMA = "image_id string, px int, py int, value tinyint, cell long"

# decode_points emits scene/date from INSIDE the kernel (2 compiled-
# regex matches per IMAGE — ~2k evaluations at bench scale) instead of
# joining a broadcast scene/date dimension onto ~7.5M point rows: the
# dim build added a distinct Exchange + a broadcast-build stage chain
# that serialized ahead of the mask-write job (r8 measurement; the dim
# join itself was the r8-bonus fix for the original per-point-row
# regex). Same C1 semantics as with_scene_date, pinned by
# tests/test_decode_scene_date_parity.py.
POINTS_DATED_SCHEMA = POINTS_SCHEMA + ", date date, scene string"

# the decode kernel's record batches: POINTS_DATED_SCHEMA with the two
# text columns as dictionaries over each batch's distinct values
_TEXT = pa.dictionary(pa.int32(), pa.string())
MASK_ARROW_SCHEMA = pa.schema([
    ("image_id", _TEXT), ("px", pa.int32()), ("py", pa.int32()), ("value", pa.int8()),
    ("cell", pa.int64()), ("date", pa.date32()), ("scene", _TEXT)])

# the mask table (K1) as parquet footer inference reads it back
MASK_TABLE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()), T.StructField("px", T.IntegerType()),
    T.StructField("py", T.IntegerType()), T.StructField("value", T.ByteType()),
    T.StructField("cell", T.LongType()), T.StructField("date", T.DateType()),
    T.StructField("scene", T.StringType())])


# hex resolution of the mask table's ``cell`` column. Cell ids pack the
# resolution (cellindex._pack), so module 1's sink and module 2's
# corridor covers must use the same one: the flagship path uses this.
CELL_RES = 9

SUMMARY_MARKER = -9  # value of fused per-image summary rows (px=py=-1)
QUARANTINE_MARKER = -10  # value of per-image quarantine rows (px=py=-1)


def empty_points_pdf() -> pd.DataFrame:
    """Zero-row frame with the POINTS_SCHEMA dtypes (Arrow needs them)."""
    return pd.DataFrame(
        dict(image_id=pd.Series(dtype="str"), px=pd.Series(dtype="int32"),
             py=pd.Series(dtype="int32"), value=pd.Series(dtype="int8"),
             cell=pd.Series(dtype="int64")))


# the C1 patterns in Python-regex form: [0-9] spelled explicitly so the
# match set equals Java's default ASCII \d (Python \d is Unicode-wide)
_DATE_RE_PY = __import__("re").compile(r"([0-9]{4}[-_][0-9]{2}[-_][0-9]{2})")
_SCENE_RE_PY = __import__("re").compile(r"^([A-Za-z0-9]+)_")


def _scene_date_py(image_id):
    """(scene, date) of one image id — the kernel-side twin of
    :func:`with_scene_date` (same values row-for-row; pinned by
    tests/test_decode_scene_date_parity.py). Matching Spark ANSI
    semantics: regexp_extract yields '' on no-match and NULL on null
    input; a date-shaped match that is not a real calendar date RAISES
    (Spark 4's ANSI to_date throws CAST_INVALID_INPUT there) — so a
    malformed id still fails the job loudly, and quarantine mode
    diverts it per image. (Year 0000 — which ANSI to_date accepts but
    datetime cannot represent — also raises; out of datetime's range
    either way.)"""
    import datetime

    if image_id is None:
        return None, None
    m = _SCENE_RE_PY.match(image_id)
    scene = m.group(1) if m else ""
    dm = _DATE_RE_PY.search(image_id)
    if dm is None:
        # regexp_extract no-match yields '' and ANSI to_date('') throws
        raise ValueError(
            f"image id {image_id!r}: no yyyy-mm-dd date in id "
            "(ANSI to_date parity — the C1 contract requires a date)")
    iso = dm.group(1).replace("_", "-")
    y, mo, d = iso.split("-")
    try:
        date = datetime.date(int(y), int(mo), int(d))
    except ValueError as ex:
        raise ValueError(
            f"image id {image_id!r}: extracted date {iso!r} is not a "
            "valid calendar date (ANSI to_date parity)") from ex
    return scene, date


# per-worker corridor-membership bitmaps: in-corridor is a pure
# function of (polygon layer, grid), and the per-image PIP over nodata
# points was the decode kernel's hottest line (~75 % of emit time in
# the r5 profile). One full-grid PIP per worker per (rings, grid)
# amortizes across every image that task decodes; pixel centers use
# the SAME float expression, so the booleans are bit-identical to the
# per-point path. Gated to 4M-pixel grids (4 MB bitmap + bounded temp
# rows); larger rasters keep the per-point path.
_BITMAP_PIXEL_GATE = 4_000_000
_CORRIDOR_BITMAPS: dict[tuple, np.ndarray] = {}


def _corridor_bitmap(corridor_rings: list, gx0: float, gy0: float, ps: float,
                     h: int, w: int) -> np.ndarray:
    from ..functions import geometry

    key = (geometry.coords_digest(corridor_rings), float(gx0), float(gy0), float(ps),
           int(h), int(w))
    bm = _CORRIDOR_BITMAPS.get(key)
    if bm is not None:
        return bm
    bm = np.zeros((h, w), dtype=bool)
    cx_row = gx0 + (np.arange(w) + 0.5) * ps
    step = max(1, 262_144 // max(w, 1))  # ~2 MB of float64 temps per band
    for y0 in range(0, h, step):
        y1 = min(y0 + step, h)
        cy = gy0 - (np.arange(y0, y1) + 0.5) * ps
        cxf = np.broadcast_to(cx_row, (y1 - y0, w)).ravel()
        cyf = np.repeat(cy, w)
        member = np.zeros(cxf.shape[0], dtype=bool)
        for ring_x, ring_y in corridor_rings:
            todo = ~member
            if not todo.any():
                break
            member[todo] = geometry.point_in_polygon(cxf[todo], cyf[todo], ring_x, ring_y)
        bm[y0:y1] = member.reshape(y1 - y0, w)
    if len(_CORRIDOR_BITMAPS) >= 8:  # a few MB each — keep the hot few
        _CORRIDOR_BITMAPS.pop(next(iter(_CORRIDOR_BITMAPS)))
    _CORRIDOR_BITMAPS[key] = bm
    return bm


def _emit_mask_arrays(mask: np.ndarray, gx0: float, gy0: float,
                      ps: float, res: int, corridor_rings: list | None,
                      aoi_lines: list | None = None,
                      aoi_buffer: float = 0.0):
    """{1,0,-1} mask -> (px int32, py int32, value int8, cell int64,
    summary_cell int).

    THE shared emission contract of every mask-producing kernel (the
    image decode and the NetCDF cube ingest): sparse water/nodata
    points with hex cell keys, optional buffered-AOI clip, and one
    fused summary value per image — in-corridor invalid count when
    ``corridor_rings`` is given (F6 fused), else the presence marker
    -1. Centralized so the two ingest paths cannot diverge. Returns
    bare numpy columns so the Arrow emit path can assemble record
    batches without intermediate pandas frames (guide §4.2)."""
    from ..functions import geometry

    ys, xs = np.nonzero(mask != 0)
    if ys.size and aoi_lines is not None:
        cx = gx0 + (xs + 0.5) * ps
        cy = gy0 - (ys + 0.5) * ps
        keep = geometry.min_dist_to_polylines(cx, cy, aoi_lines) <= aoi_buffer
        ys, xs = ys[keep], xs[keep]
    vals = cells = None
    if ys.size:
        vals = mask[ys, xs]
        cx = gx0 + (xs + 0.5) * ps
        cy = gy0 - (ys + 0.5) * ps
        cells = cellindex.hex_cell(cx, cy, res)
    if corridor_rings is not None:
        nod = vals == -1 if ys.size else np.zeros(0, dtype=bool)
        n_invalid = 0
        if ys.size and nod.any():
            h, w = mask.shape
            if h * w <= _BITMAP_PIXEL_GATE:
                bm = _corridor_bitmap(corridor_rings, gx0, gy0, ps, h, w)
                n_invalid = int(bm[ys[nod], xs[nod]].sum())
            else:
                member = np.zeros(int(nod.sum()), dtype=bool)
                mx, my = cx[nod], cy[nod]
                for ring_x, ring_y in corridor_rings:
                    todo = ~member
                    if not todo.any():
                        break
                    member[todo] = geometry.point_in_polygon(mx[todo], my[todo], ring_x, ring_y)
                n_invalid = int(member.sum())
        summary_cell = n_invalid
    else:
        summary_cell = -1  # presence marker only
    if ys.size:
        return xs.astype(np.int32), ys.astype(np.int32), vals.astype(np.int8), cells, summary_cell
    return (np.empty(0, np.int32), np.empty(0, np.int32),
            np.empty(0, np.int8), np.empty(0, np.int64), summary_cell)


def emit_mask_rows(image_id: str, mask: np.ndarray, gx0: float, gy0: float,
                   ps: float, res: int, corridor_rings: list | None,
                   aoi_lines: list | None = None,
                   aoi_buffer: float = 0.0) -> list[pd.DataFrame]:
    """{1,0,-1} mask -> [points frame (if any), summary frame].

    pandas wrapper over :func:`_emit_mask_arrays` for the NetCDF
    ingest's mapInPandas kernel; values identical to the decode path."""
    px, py, vals, cells, summary_cell = _emit_mask_arrays(
        mask, gx0, gy0, ps, res, corridor_rings,
        aoi_lines=aoi_lines, aoi_buffer=aoi_buffer)
    out = []
    if px.size:
        out.append(pd.DataFrame(dict(
            image_id=image_id, px=px, py=py, value=vals, cell=cells)))
    out.append(pd.DataFrame(dict(
        image_id=[image_id], px=np.int32(-1), py=np.int32(-1),
        value=np.int8(SUMMARY_MARKER), cell=np.int64(summary_cell))))
    return out


def mask_kernel(images: DataFrame, grid: dict, res: int = CELL_RES,
                threshold: float = water.NDWI_THRESHOLD,
                corridor_rings: list | None = None,
                aoi: tuple[list, float] | None = None,
                min_bands: int = 4,
                reproject: bool = False,
                resample_method: str = "nearest",
                plane_origin: tuple[float, float] = (-18.0, 120.0),
                water_rule: str = "threshold",
                warp_frame: str = "tangent",
                utm_zone: int | None = None,
                utm_south: bool = True,
                on_undecodable: str = "raise") -> tuple[DataFrame, Callable]:
    """images -> (the kernel's input frame, the decode kernel): the
    module-1 stage that :func:`decode_points` and
    :func:`write_mask_table` run through ``mapInArrow``.

    The kernel maps Arrow batches of image rows to record batches of
    sparse mask points with hex cell keys + scene/date columns, in
    :data:`MASK_ARROW_SCHEMA` order; ``image_id`` and ``scene`` are
    dictionary arrays over the batch's distinct values.

    ``grid``: dict(gx0, gy0, ps) — uniform georeferencing (the kernel
    asserts every image against it, map-side).

    The kernel emits one fused summary row per image (px=py=-1,
    value=SUMMARY_MARKER). With ``corridor_rings`` (list of (ring_x,
    ring_y) arrays) its ``cell`` carries the in-corridor invalid count,
    so the >= 70 % validity filter needs no second pass over the points
    — the map-side fusion that removes a whole stage from the pipeline.
    Without rings, ``cell`` = -1: a presence-only marker that keeps the
    (scene, date) dimension complete even for images that emitted zero
    mask points (an all-dry valid image must still produce its
    zero-branch metrics row downstream).

    ``aoi``: (lines, buffer_m) — the module-1 buffered-AOI clip
    (src/utils/wd_batch.py:425-447): only pixels within ``buffer_m`` of
    any polyline are emitted. Fused into the decode kernel — the clip
    is a per-pixel predicate, so it costs no extra stage and the point
    volume shrinks at the source.

    ``min_bands``: the reference's band-count contract
    (src/utils/wd_batch.py:316-327): fewer bands than Blue,Green,Red,
    Nir is a hard error, raised per image inside the kernel so a
    mis-shaped table fails loudly instead of producing wrong masks.

    ``reproject``: S2 mixed-grid ingest (src/utils/wd_batch.py:329-373:
    scenes off the reference CRS/resolution are reprojected before
    detection). The image table must then carry per-row source-grid
    columns (gx0 double, gy0 double, ps double); each decoded raster is
    affine-resampled onto the target ``grid`` inside the same kernel —
    map-side, no extra stage, mixed and already-aligned rows can share
    one table (aligned rows short-circuit through kernels.resample).
    An optional per-row ``crs`` column extends this to MIXED-CRS
    tables (the reference reprojects such scenes,
    src/utils/wd_batch.py:364-366): rows marked ``"lonlat"`` carry
    their source grid in geographic degrees and are warped onto the
    planar target through the engine's tangent-plane bridge
    (kernels.resample.warp_from_lonlat, origin ``plane_origin``);
    rows marked ``"planar"`` (or with no crs column) take the affine
    path.

    ``on_undecodable``: ``"raise"`` (default — the reference-parity
    contract: a malformed scene fails the run loudly) or
    ``"quarantine"`` — any image whose decode/contract-check raises
    (lossy-VP8 webp, truncated bytes, band/shape violations) emits ONE
    quarantine row (px=py=-1, value=QUARANTINE_MARKER, cell=-1)
    instead of failing the task: the web-crawl regime, where a single
    bad payload must never kill a 10^6-row partition. Split the output
    with :func:`quarantined` / :func:`drop_quarantined`.
    """
    if on_undecodable not in ("raise", "quarantine"):
        raise ValueError(f"on_undecodable {on_undecodable!r} (raise|quarantine)")
    if water_rule not in ("threshold", "cluster"):
        # validated driver-side: quarantine mode must divert DATA
        # failures only — a config typo inside the kernel would
        # otherwise quarantine 100% of rows and "succeed" empty
        raise ValueError(f"unknown water_rule {water_rule!r} (threshold|cluster)")
    quarantine = on_undecodable == "quarantine"
    gx0, gy0, ps = grid["gx0"], grid["gy0"], grid["ps"]
    expected_hw = (grid["h"], grid["w"]) if "h" in grid and "w" in grid else None
    aoi_lines, aoi_buffer = None, 0.0
    if aoi is not None:
        aoi_lines = [(np.asarray(lx, dtype=np.float64), np.asarray(ly, dtype=np.float64))
                     for lx, ly in aoi[0]]
        aoi_buffer = float(aoi[1])

    def kernel(batches):
        from ..kernels import resample as resamplek

        epoch_ord = 719163  # datetime.date(1970, 1, 1).toordinal()
        neg1_i32 = np.full(1, -1, dtype=np.int32)
        neg1_i64 = np.full(1, -1, dtype=np.int64)
        summary_val = np.full(1, SUMMARY_MARKER, dtype=np.int8)
        quarantine_val = np.full(1, QUARANTINE_MARKER, dtype=np.int8)

        for rb in batches:
            names = rb.schema.names
            cols_in = {n: rb.column(i) for i, n in enumerate(names)}
            ids = cols_in["image_id"].to_pylist()
            bufs = cols_in["bytes"].to_pylist()
            src_grids = None
            if reproject:
                crs_list = (cols_in["crs"].to_pylist() if "crs" in names
                            else ["planar"] * len(ids))
                src_grids = list(zip(cols_in["gx0"].to_pylist(),
                                     cols_in["gy0"].to_pylist(),
                                     cols_in["ps"].to_pylist(), crs_list))
            # per-image accumulators: numpy point columns + each
            # image's (image_id, scene, date, n_rows) — one record batch
            # is assembled per input batch with no intermediate pandas
            # frames (the old per-image pd.DataFrame build + concat +
            # serializer conversion was ~half the kernel's CPU;
            # guide §4.2 — hand whole batches to vectorized code)
            xs_l: list = []
            ys_l: list = []
            val_l: list = []
            cell_l: list = []
            f_id: list = []
            f_scene: list = []
            f_date: list = []
            f_len: list = []

            def decode_one(i: int, image_id: str, buf) -> int:
                arr = codecs.decode_image(bytes(buf))
                if arr.shape[0] < min_bands:
                    raise ValueError(
                        f"{image_id}: {arr.shape[0]} bands < required {min_bands} "
                        "(band order contract: Blue,Green,Red,Nir[,Mir2])"
                    )
                if src_grids is None and expected_hw is not None and arr.shape[1:] != expected_hw:
                    # S1 uniformity, asserted map-side per image — no
                    # separate driver-side distinct() action barrier
                    raise ValueError(
                        f"{image_id}: raster shape {arr.shape[1:]} != grid {expected_hw} "
                        "(uniform-grid contract; pass reproject=True for mixed grids)"
                    )
                if src_grids is not None:
                    sgx0, sgy0, sps, scrs = src_grids[i]
                    src_g = dict(gx0=float(sgx0), gy0=float(sgy0), ps=float(sps))
                    dst_g = dict(gx0=gx0, gy0=gy0, ps=ps, w=grid["w"], h=grid["h"])
                    if scrs == "lonlat":
                        # warp_frame="utm" + utm_zone: the target grid
                        # is a TRUE WGS84 UTM grid (the reference's
                        # estimate_utm_crs form) and the inverse runs
                        # through the Snyder series — datum-grade on
                        # wide scenes where the tangent plane drifts
                        arr = resamplek.warp_from_lonlat(
                            arr, src_g, dst_g, plane_origin[0], plane_origin[1],
                            method=resample_method, frame=warp_frame,
                            zone=utm_zone, south=utm_south)
                    elif scrs == "planar":
                        arr = resamplek.resample(arr, src_g, dst_g, method=resample_method)
                    else:
                        raise ValueError(f"{image_id}: unknown crs {scrs!r} (planar|lonlat)")
                if water_rule == "threshold":
                    mask = water.water_mask(arr, threshold)
                elif water_rule == "cluster":
                    # the reference's DWImageClustering analog
                    # (kernels/water.py:water_mask_cluster) — fused in
                    # the same decode pass, still one kernel per image
                    mask = water.water_mask_cluster(arr)
                else:
                    raise ValueError(
                        f"unknown water_rule {water_rule!r} (threshold|cluster)")
                px, py, vals, cells, summary_cell = _emit_mask_arrays(
                    mask, gx0, gy0, ps, res, corridor_rings,
                    aoi_lines=aoi_lines, aoi_buffer=aoi_buffer)
                if px.size:
                    xs_l.append(px)
                    ys_l.append(py)
                    val_l.append(vals)
                    cell_l.append(cells)
                xs_l.append(neg1_i32)
                ys_l.append(neg1_i32)
                val_l.append(summary_val)
                cell_l.append(np.full(1, summary_cell, dtype=np.int64))
                return px.size + 1

            for i, (image_id, buf) in enumerate(zip(ids, bufs)):
                if not quarantine:
                    n_rows = decode_one(i, image_id, buf)
                else:
                    try:
                        n_rows = decode_one(i, image_id, buf)
                    except Exception:
                        xs_l.append(neg1_i32)
                        ys_l.append(neg1_i32)
                        val_l.append(quarantine_val)
                        cell_l.append(neg1_i64)
                        n_rows = 1
                # scene/date computed per IMAGE in Python (2 regex
                # matches + one date parse each — ~2k evaluations at
                # bench scale): cheaper than both the per-point-row JVM
                # regex (7.5M evaluations) and the r8-bonus broadcast
                # dim join, whose distinct Exchange + broadcast build
                # serialized ahead of the mask-write job. Runs OUTSIDE
                # the quarantine catch: a malformed date in the id
                # fails loudly on both sides (ANSI to_date parity).
                scene, date = _scene_date_py(image_id)
                f_id.append(image_id)
                f_scene.append(scene)
                f_date.append(date)
                f_len.append(n_rows)

            if not f_len:
                continue
            lens_a = np.asarray(f_len, dtype=np.int64)

            def rep_dict(strs: list) -> "pa.DictionaryArray":
                # one dictionary entry per distinct value of the batch
                # and int32 indices repeated per image: the text never
                # exists per row. The parquet sink writes it as is; the
                # Spark path decodes it (see decode_points).
                codes: dict = {}
                idx = np.fromiter((-1 if v is None else codes.setdefault(v, len(codes))
                                   for v in strs), dtype=np.int32, count=len(strs))
                rows = np.repeat(idx, lens_a)
                # null ids (quarantined null-id rows) become null indices
                indices = pa.array(rows, mask=rows < 0) if (idx < 0).any() else pa.array(rows)
                return pa.DictionaryArray.from_arrays(
                    indices, pa.array(list(codes), type=pa.string()))

            if any(d is None for d in f_date):
                date_arr = pa.array(np.repeat(np.array(f_date, dtype=object), lens_a),
                                    type=pa.date32())
            else:
                days = np.fromiter((d.toordinal() - epoch_ord for d in f_date),
                                   dtype=np.int32, count=len(f_date))
                date_arr = pa.array(np.repeat(days, lens_a), type=pa.date32())
            yield pa.record_batch(
                [rep_dict(f_id),
                 pa.array(np.concatenate(xs_l)),
                 pa.array(np.concatenate(ys_l)),
                 pa.array(np.concatenate(val_l)),
                 pa.array(np.concatenate(cell_l)),
                 date_arr,
                 rep_dict(f_scene)],
                schema=MASK_ARROW_SCHEMA)

    cols = ["image_id", "bytes"] + (["gx0", "gy0", "ps"] if reproject else [])
    if reproject and "crs" in images.columns:
        cols.append("crs")
    return images.select(*cols), kernel


def decode_points(images: DataFrame, grid: dict, **decode_kwargs) -> DataFrame:
    """images -> sparse mask points with hex cell keys + scene/date cols
    (POINTS_DATED_SCHEMA); ``decode_kwargs`` as for :func:`mask_kernel`.

    scene/date ride out of the kernel (see POINTS_DATED_SCHEMA) — no
    dim join, no per-point-row regex. mapInArrow, not mapInPandas: the
    output columns are assembled zero-copy from the kernel's numpy
    arrays (the pandas serializer re-expands Categoricals and converts
    object columns per-element; measured ~0.3 s/decode-job slower at
    bench scale, r8). Spark's ArrowColumnVector cannot read dictionary
    vectors, so the two text columns are decoded to plain utf8 before
    they cross into the JVM; :func:`write_mask_table` skips that.
    """
    frame, kernel = mask_kernel(images, grid, **decode_kwargs)

    def plain(batches):
        for rb in kernel(batches):
            yield rb.set_column(0, "image_id", rb.column(0).dictionary_decode()) \
                    .set_column(6, "scene", rb.column(6).dictionary_decode())

    return frame.mapInArrow(plain, schema=POINTS_DATED_SCHEMA)


_SCHEME_RE = __import__("re").compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://")


def _qualified_uri(spark, path: str) -> str:
    """``path`` as a URI: as given when it names a scheme, else as Spark
    resolves it (default file system, working directory)."""
    if _SCHEME_RE.match(path):
        return path
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.makeQualified(jpath).toString()


def _manifest_frame(images: DataFrame, stage_uri: str, grid: dict,
                    **decode_kwargs) -> DataFrame:
    """The sink job: every task runs the decode kernel and writes its
    record batches to one parquet file in ``stage_uri``, named by its
    partition and attempt; it returns one manifest row (file, rows), or
    none when its partition held no image."""
    frame, kernel = mask_kernel(images, grid, **decode_kwargs)

    def write(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        name = f"part-{ctx.partitionId():05d}-{ctx.attemptNumber()}.parquet"
        fs, stage = pafs.FileSystem.from_uri(stage_uri)
        rows = 0
        writer = None
        try:
            for rb in kernel(batches):
                if writer is None:
                    writer = pq.ParquetWriter(f"{stage}/{name}", MASK_ARROW_SCHEMA,
                                              filesystem=fs)
                writer.write_batch(rb)
                rows += rb.num_rows
        finally:
            if writer is not None:
                writer.close()
        if writer is not None:
            yield pa.record_batch([pa.array([name]), pa.array([rows], type=pa.int64())],
                                  names=["file", "rows"])

    return frame.mapInArrow(write, schema="file string, rows long")


def _commit(fs, root: str, stage: str, files: list[str]) -> None:
    """Replace the table at ``root`` with exactly the staged ``files``,
    then mark it complete with ``_SUCCESS``. Other staged files (a
    failed task attempt's) are never moved."""
    for info in fs.get_file_info(pafs.FileSelector(root)):
        if info.base_name == "_temporary":
            continue
        if info.type == pafs.FileType.Directory:
            fs.delete_dir(info.path)
        else:
            fs.delete_file(info.path)
    for name in files:
        fs.move(f"{stage}/{name}", f"{root}/{name}")
    with fs.open_output_stream(f"{root}/_SUCCESS"):
        pass


def write_mask_table(images: DataFrame, path: str, grid: dict, **decode_kwargs) -> DataFrame:
    """Decode ``images`` into the mask table at ``path`` (overwriting
    it) and return the table read back; ``decode_kwargs`` as for
    :func:`mask_kernel`.

    The same rows and parquet schema as ``decode_points(...).write
    .parquet(path)``, without that writer's cost: each decode task
    writes its own record batches with pyarrow, ``image_id`` and
    ``scene`` as dictionary columns, so no per-row text crosses into
    the JVM (the text was 33-40 MB of the 384-image benchmark's
    1.4-1.7M rows, which Spark's writer converted row by row and then
    dictionary-encoded back to a few KB). Tasks stage files under
    ``<path>/_temporary/<job id>/`` and return only a manifest row;
    the driver then moves exactly the listed files into ``path``,
    writes ``_SUCCESS`` and removes ``_temporary``, also when the job
    fails — a failed write leaves the previous table as it was.

    ``path`` resolves as Spark resolves it; a file system pyarrow
    cannot open raises before any job runs.
    """
    import uuid

    spark = images.sparkSession
    uri = _qualified_uri(spark, path).rstrip("/")
    fs, root = pafs.FileSystem.from_uri(uri)
    existed = fs.get_file_info(root).type != pafs.FileType.NotFound
    job = uuid.uuid4().hex
    stage = f"{root}/_temporary/{job}"
    fs.create_dir(stage)
    committed = False
    try:
        manifest = _manifest_frame(images, f"{uri}/_temporary/{job}", grid,
                                   **decode_kwargs).collect()
        files = [r["file"] for r in manifest]
        if not files:
            # every partition was empty: one empty file keeps the table
            # readable with its schema, as Spark's writer does
            pq.write_table(MASK_ARROW_SCHEMA.empty_table(), f"{stage}/part-00000-0.parquet",
                           filesystem=fs)
            files = ["part-00000-0.parquet"]
        _commit(fs, root, stage, files)
        committed = True
    finally:
        fs.delete_dir(f"{root}/_temporary")
        if not committed and not existed:
            fs.delete_dir(root)
    # as Spark's writer does: a cached plan over this path (which the
    # read-back below would match) re-reads the new files
    spark.catalog.refreshByPath(path)
    return read_mask_sink(spark, path)


def read_mask_sink(spark, path: str) -> DataFrame:
    """Read back a mask table with the all-nullable K1 schema: exactly
    what parquet footer inference returns for it, without the
    inference job (measured 70-82 ms inferred vs 17-26 ms explicit on
    the critical path)."""
    return spark.read.schema(MASK_TABLE_SCHEMA).parquet(path)


def quarantined(points: DataFrame) -> DataFrame:
    """The quarantine frame: one row per undecodable image
    (decode_points(on_undecodable='quarantine'))."""
    return points.filter(F.col("value") == QUARANTINE_MARKER)


def drop_quarantined(points: DataFrame) -> DataFrame:
    """Mask points + summaries with quarantine rows removed — safe to
    feed into pipeline.run/fillop like a clean decode output."""
    return points.filter(F.col("value") != QUARANTINE_MARKER)


def with_scene_date(df: DataFrame, col: str = "image_id") -> DataFrame:
    """C1: parse scene + ISO date out of the image id (JVM-side regexp)."""
    return df.withColumn(
        "date",
        F.to_date(F.regexp_replace(F.regexp_extract(F.col(col), r"(\d{4}[-_]\d{2}[-_]\d{2})", 1), "_", "-")),
    ).withColumn("scene", F.regexp_extract(F.col(col), r"^([A-Za-z0-9]+)_", 1))
