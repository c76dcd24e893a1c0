"""Reference-shaped public API: the two entry points a user of
tayerthiaggo/irivermetrics calls, re-expressed over Spark DataFrames.

- ``waterdetect_batch``  (src/irm_main.py:18-114): module 1 — image
  table -> water-mask point table, with the 1000 m buffered-AOI clip
  around river lines (src/utils/wd_batch.py:425-447) and the band
  order/count contract (src/utils/wd_batch.py:316-327) enforced.
- ``calculate_metrics``  (src/irm_main.py:117-236): module 2 — mask
  table (or image table directly) + river-corridor polygons ->
  per-(date, section) intermittency metrics, optional vector exports
  (export_shp) and per-pixel persistence (export_PP).

Differences from the reference, by engine design:
- inputs are DataFrames (the Iceberg/parquet image+caption table of
  the engine contract) and reach/line tables, not file paths;
- outputs are DataFrames; with ``outdir`` the file sinks also write
  the reference's artifacts (irm_metrics.csv, irm_*.shp vector layers,
  Pixel_Persistence.tif, module-1 per-date mask GeoTIFFs) next to
  their parquet forms;
- the water rule defaults to the engine's deterministic NDWI/MNDWI
  threshold (kernels/water.py); ``water_rule="cluster"`` switches to
  the from-scratch deterministic k-means analog of the reference's
  DWImageClustering (water_mask_cluster — max_cluster/reg defaults,
  Calinski-Harabasz order selection, maxndwi water-cluster pick).
"""

from __future__ import annotations

import contextlib

import numpy as np
from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession

from .functions import geometry
from .kernels import water
from .operators import decode, exports
from .plans import pipeline


@contextlib.contextmanager
def _job_description(spark: SparkSession, text: str):
    """Label the calling thread's Spark jobs, then restore its label."""
    sc = spark.sparkContext
    old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", old)


class _SinkThread(InheritableThread):
    """Runs one sink action beside the caller's own actions.

    An InheritableThread inherits the caller's job group and local
    properties, so its jobs count under the caller's group and can be
    cancelled with it. Started on construction; ``join`` waits for the
    action and re-raises its exception in the caller."""

    def __init__(self, spark: SparkSession, description: str, action, *args):
        self._error: BaseException | None = None

        def target() -> None:
            spark.sparkContext.setJobDescription(description)
            try:
                action(*args)
            except BaseException as e:  # re-raised by join()
                self._error = e

        super().__init__(target=target, name="calculate_metrics-sink", daemon=False)
        self.start()

    def join(self, timeout: float | None = None) -> None:
        super().join(timeout)
        if self._error is not None:
            raise self._error


def validate_band_names(n_bands: int) -> list[str]:
    """The reference's band-name contract (src/utils/wd_batch.py:316-327):
    >= 4 bands stacked Blue,Green,Red,Nir[,Mir2,Band_6..]."""
    if n_bands == 4:
        return ["Blue", "Green", "Red", "Nir"]
    if n_bands > 4:
        return ["Blue", "Green", "Red", "Nir", "Mir2"] + [f"Band_{i + 6}" for i in range(n_bands - 5)]
    raise ValueError("Unsupported number of bands. Expected at least 4 bands.")


def _validate_images(images: DataFrame) -> int:
    """Module-1 input validation (src/utils/wd_batch.py:151,316-327):
    decode ONE image driver-side to read the band count and check the
    contract; the kernel re-asserts per image so a mixed table still
    fails loudly."""
    from . import codecs

    first = images.select("bytes").limit(1).collect()
    if not first:
        raise ValueError("empty image table")
    n_bands = codecs.decode_image(bytes(first[0]["bytes"])).shape[0]
    validate_band_names(n_bands)  # raises below 4
    return n_bands


def normalize_lines(r_lines) -> list[tuple[np.ndarray, np.ndarray]]:
    """River lines as [(x array, y array)] from dicts/tuples/DataFrame."""
    if isinstance(r_lines, DataFrame):
        r_lines = [r.asDict() for r in r_lines.collect()]
    out = []
    for ln in r_lines:
        if isinstance(ln, dict):
            out.append((np.asarray(ln["x"], dtype=np.float64), np.asarray(ln["y"], dtype=np.float64)))
        else:
            out.append((np.asarray(ln[0], dtype=np.float64), np.asarray(ln[1], dtype=np.float64)))
    return out


def waterdetect_batch(
    spark: SparkSession,
    input_img: DataFrame,
    r_lines=None,
    grid: dict | None = None,
    buffer: float = 1000.0,
    reaches: list[dict] | None = None,
    mask_path: str | None = None,
    threshold: float = water.NDWI_THRESHOLD,
    water_rule: str = "threshold",
    export_tif: bool = False,
    outdir: str | None = None,
) -> DataFrame:
    """Module 1: image table -> water-mask point table.

    Mirrors waterdetect_batch(input_img, r_lines, buffer=1000, ...)
    (src/irm_main.py:18-114): validates band count, buffers the river
    lines by ``buffer`` meters and clips the decode to that AOI
    (src/utils/wd_batch.py:425-447 buffer_clip_aoi — here a per-pixel
    distance predicate fused into the decode kernel, so the clip costs
    no extra stage and no driver-side raster).

    ``reaches`` (optional): passing the module-2 corridor polygons here
    fuses the per-image validity summaries into the same decode pass,
    so a later ``calculate_metrics`` on this mask table skips its
    validity re-scan.

    ``mask_path``: the K1 sink — write the mask table to parquet and
    return the parquet-backed frame (the reference's export_tif analog).
    The decode tasks write the files themselves
    (:func:`decode.write_mask_table`): an existing table at the path is
    replaced only once every task has succeeded, and the path must be
    one pyarrow can open (a local path, ``file:``, ``s3:``, ``gs:``...)
    — another scheme raises before any job runs. The rows and the
    inferred schema are those of ``decode_points(...).write.parquet``.

    ``water_rule``: "threshold" (default) or "cluster" — the latter is
    the engine's DWImageClustering analog (src/utils/wd_batch.py:
    620-630), a deterministic k-means over the reference's band-key
    features with maxndwi water-cluster selection.
    """
    if grid is None:
        raise ValueError("grid=dict(gx0, gy0, ps, w, h) is required (uniform-grid contract)")
    _validate_images(input_img)

    aoi = None
    if r_lines is not None:
        aoi = (normalize_lines(r_lines), float(buffer))
    rings = None
    if reaches is not None:
        rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"])) for r in reaches]

    decode_kwargs = dict(threshold=threshold, corridor_rings=rings, aoi=aoi,
                         water_rule=water_rule)
    if mask_path:
        pts = decode.write_mask_table(input_img, mask_path, grid, **decode_kwargs)
    else:
        pts = decode.decode_points(input_img, grid, **decode_kwargs)
    if export_tif:
        # K1 file sink: one YYYY-MM-DD.tif LZW per (scene, date), the
        # reference's export_tif branch (src/utils/wd_batch.py:584-588);
        # calculate_metrics(outdir) re-ingests the directory directly
        if not outdir:
            raise ValueError("export_tif=True requires outdir")
        if not mask_path:
            pts = pts.persist()  # densify pass must not re-decode later
        exports.write_date_mask_geotiffs(pts, grid, outdir, aoi=aoi).collect()
    return pts


def _path_is_tif_masks(path: str) -> bool:
    """String da_wmask dispatch: .tif mask directory/glob vs .nc cube.

    Explicit extensions always win. A bare LOCAL directory/glob is
    probed driver-side (top level plus one subdirectory level — the
    multi-scene export layout is outdir/SCENE/DATE.tif); mixed dirs
    raise. URI-schemed paths (s3a://, hdfs://, file:/...) cannot be
    probed with local os calls, so they keep the pre-r5 entry contract
    and dispatch to the NetCDF reader — pass an extension-explicit
    path or glob to pick the tif ingest remotely."""
    import glob as _glob
    import os
    import re as _re

    low = path.lower()
    if low.endswith((".tif", ".tiff")):
        return True
    if low.endswith(".nc"):
        return False
    if _re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", path) and not os.path.exists(path):
        return False  # remote URI: undetectable locally -> .nc default
    entries: list[str] = []
    if os.path.isdir(path):
        for e in sorted(os.listdir(path)):
            full = os.path.join(path, e)
            if os.path.isdir(full):
                entries.extend(sorted(os.listdir(full)))  # scene subdirs
            else:
                entries.append(e)
    elif _glob.has_magic(path):
        entries = sorted(os.path.basename(p) for p in _glob.glob(path))
    tifs = [e for e in entries if e.lower().endswith((".tif", ".tiff"))]
    ncs = [e for e in entries if e.lower().endswith(".nc")]
    if tifs and ncs:
        raise ValueError(
            f"{path}: holds both .tif masks and .nc cubes — pass an "
            "extension-explicit glob to pick one ingest path")
    if not tifs and not ncs:
        raise ValueError(f"{path}: no .tif or .nc mask files found")
    return bool(tifs)


def calculate_metrics(
    spark: SparkSession,
    da_wmask: DataFrame,
    rcor_extent,
    grid: dict | None = None,
    section_length: float | None = None,
    min_pool_size: int = 2,
    export_shp: bool = False,
    export_PP: bool = False,
    fill_nodata: bool = True,
    outdir: str | None = None,
    checkpoint_dir: str | None = None,
    r_lines=None,
    buffer: float = 1000.0,
    reaches_crs: str = "planar",
    plane_origin: tuple[float, float] = (-18.0, 120.0),
    section_name_col: str | None = None,
) -> dict:
    """Module 2: mask table (or image table) -> metrics.

    ``reaches_crs``: pass ``"lonlat"`` when ``rcor_extent`` carries
    geographic degree coordinates — the layer is converted to the
    engine plane at ``plane_origin`` (the raster grid's frame) before
    any measurement, mirroring the reference's estimate-UTM
    reprojection of geographic layers (src/utils/calc_metrics.py:
    343-348). Standalone vector work can instead use
    ``reaches_to_planar`` with an estimated plane.

    Mirrors calculate_metrics(da_wmask, rcor_extent, section_length,
    min_pool_size, export_shp, export_PP, fill_nodata)
    (src/irm_main.py:117-236). ``da_wmask`` may be either the module-1
    mask-point table, the raw image table (detected by the ``bytes``
    column), or a STRING path to classic NetCDF-3 water-mask cube(s)
    (file/dir/glob) — the reference's primary entry form
    (examples/irm_example.ipynb cell 3 passes
    ``xr.open_dataset('tests/wmask_ts.nc').water``); ``grid`` then
    defaults to the cube's own georeferencing.

    Returns {"metrics": DataFrame, ...pipeline intermediates...}; with
    export_shp the polygons/lines/points frames are included (they are
    always computed lazily — the flag controls the eager write when
    ``outdir`` is given), with export_PP the per-pixel persistence
    table ("persistence_px") is written/kept. With ``outdir`` the
    persistence sinks (parquet + GeoTIFFs, one action) run on a second
    thread beside the metrics CSV; the call returns after both, and
    raises if either failed; then it unpersists what ``pipeline.run``
    persisted. Without ``outdir`` those frames stay cached, and until
    the caller unpersists them, a later call on the same mask path
    rewritten by another writer is served the old table's results.

    ``r_lines``/``buffer``: pass the SAME river lines + buffer used in
    module 1 when ``da_wmask`` was AOI-clipped — the reference clips
    before validating, so clipped-away corridor pixels count as invalid
    in the >= 70 % gate; without these the engine would treat them as
    valid and keep dates the reference drops.
    """
    if isinstance(rcor_extent, str):
        reaches = read_reaches(spark, rcor_extent, section_name_col=section_name_col)
    elif isinstance(rcor_extent, DataFrame):
        reaches = reaches_from_df(rcor_extent)
    else:
        # list-of-dicts: enrich minimal (section, ring_x, ring_y) dicts
        # with the bbox/area keys the pipeline requires — a bare list
        # previously crashed clip_offsets with KeyError('xmin')
        reaches = normalize_reaches(rcor_extent)
    if reaches_crs == "lonlat":
        reaches = reaches_to_planar(reaches, plane_origin[0], plane_origin[1])
    elif reaches_crs != "planar":
        raise ValueError(f"unknown reaches_crs {reaches_crs!r} (planar|lonlat)")
    aoi = (normalize_lines(r_lines), float(buffer)) if r_lines is not None else None
    if isinstance(da_wmask, str):
        from .operators import ncingest

        # reaches are parsed first so the mask ingest fuses in-corridor
        # invalid counts into its summary rows (F6 fused) — the
        # presence-only validity fallback join never runs for file
        # input — and the module-1 AOI clip (if any) applies in-kernel
        # exactly like the image decode path
        rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"])) for r in reaches]
        if _path_is_tif_masks(da_wmask):
            # K1 interop: a directory/glob of per-date YYYY-MM-DD.tif
            # masks, the reference module-1 export re-entering module 2
            da_wmask, file_grid = ncingest.read_wmask_tifs(spark, da_wmask,
                                                           corridor_rings=rings, aoi=aoi)
        else:
            da_wmask, file_grid = ncingest.read_wmask_nc(spark, da_wmask,
                                                         corridor_rings=rings, aoi=aoi)
        if grid is None:
            grid = file_grid
    if grid is None:
        raise ValueError("grid=dict(gx0, gy0, ps, w, h) is required (uniform-grid contract)")

    sl = float("nan") if section_length is None else float(section_length)
    kwargs = dict(min_pool_size=min_pool_size, section_length=sl,
                  checkpoint_dir=checkpoint_dir, fill_nodata=fill_nodata, aoi=aoi)
    if "bytes" in da_wmask.columns:
        result = pipeline.run(spark, da_wmask, reaches, grid, **kwargs)
    else:
        result = pipeline.run(spark, None, reaches, grid, points=da_wmask, **kwargs)

    if outdir:
        sink = None
        if export_PP:
            # the reference's Pixel_Persistence.tif (irm_main.py:228-233)
            # and the parquet table in ONE action: the per-scene GeoTIFF
            # writer re-emits its rows into the parquet sink. It runs
            # beside the metrics CSV; its plan is built here, on the
            # calling thread, so the sink thread only runs the action.
            pp_rows = exports.persistence_geotiff_rows(
                result["persistence_px"], grid, outdir, flat=result["single_scene"])
            sink = _SinkThread(spark, "calculate_metrics: persistence parquet + GeoTIFFs",
                               exports.write_pixel_persistence, pp_rows,
                               f"{outdir}/pixel_persistence.parquet")
        try:
            with _job_description(spark, "calculate_metrics: metrics CSV"):
                exports.write_metrics_csv(result["metrics"], f"{outdir}/irm_metrics.csv")
            if export_shp:
                with _job_description(spark, "calculate_metrics: vector exports"):
                    layers = []
                    for name in ("Polygons", "Lines", "Points"):
                        path = f"{outdir}/irm_{name}.parquet"
                        result[name.lower()].write.mode("overwrite").parquet(path)
                        layers.append(spark.read.parquet(path))
                    # the reference's actual file format (irm_*.shp,
                    # irm_main.py:217-226) via the from-scratch writer,
                    # fed from the parquet sinks: each frame computes once
                    exports.write_vector_shapefiles(*layers, outdir)
        finally:
            try:
                if sink is not None:
                    sink.join()
            finally:
                # caches match by plan, not file contents (see above)
                for df in result.persisted:
                    df.unpersist()
    return result


# ----------------------------------------------------------------- S4:
# vector-layer ingest (reference: gpd.read_file + CRS checks,
# src/utils/wd_batch.py:400-423) — the engine's vector container is a
# parquet table (section string, ring_x array<double>, ring_y
# array<double>); bbox and shoelace area are derived, not stored.

def _enrich_reach(section, rx, ry) -> dict:
    rx = np.asarray(rx, dtype=np.float64)
    ry = np.asarray(ry, dtype=np.float64)
    closed = rx.shape[0] > 1 and rx[0] == rx[-1] and ry[0] == ry[-1]
    return dict(
        section=str(section),
        ring_x=rx,
        ring_y=ry,
        area_m2=geometry.polygon_area_m2(rx[:-1], ry[:-1]) if closed
        else geometry.polygon_area_m2(rx, ry),
        xmin=float(rx.min()), xmax=float(rx.max()),
        ymin=float(ry.min()), ymax=float(ry.max()),
    )


def normalize_reaches(reaches: list[dict]) -> list[dict]:
    """Fill in derived keys (bbox, shoelace area) for reach dicts that
    carry only (section, ring_x, ring_y); dicts that already have every
    key pass through unchanged (bbox/area stay consistent with rings)."""
    need = ("area_m2", "xmin", "xmax", "ymin", "ymax")
    out = []
    for r in reaches:
        if all(k in r for k in need):
            out.append(r)
        else:
            out.append(_enrich_reach(r["section"], r["ring_x"], r["ring_y"]))
    return out


def reaches_to_planar(reaches: list[dict], lat0: float | None = None,
                      lon0: float | None = None, frame: str = "local",
                      zone: int | None = None) -> list[dict]:
    """Geographic (lon/lat degree) reach layer -> metric coordinates.

    The reference reprojects geographic vector layers to an estimated
    UTM zone before measuring (src/utils/calc_metrics.py:343-348:
    estimate_utm_crs + reprojection). Two frames:

    - ``frame="local"``: the engine's tangent plane at ``lat0``/``lon0``
      (estimated from the layer extent when omitted) — the right frame
      when the raster grid lives in the engine's own planar bridge.
    - ``frame="utm"``: TRUE WGS84 UTM (Snyder transverse-Mercator
      series, functions/geometry.py:lonlat_to_utm), zone estimated from
      the layer's mean longitude unless given — the right frame when
      the rasters are UTM-georeferenced GeoTIFFs, exactly the
      reference's estimate_utm_crs semantics, no proj library needed.

    bbox/area are re-derived in meters either way.
    """
    from .functions import geometry

    out = []
    if frame == "utm":
        if zone is None:
            lons = np.concatenate([np.asarray(r["ring_x"], dtype=np.float64) for r in reaches])
            lats = np.concatenate([np.asarray(r["ring_y"], dtype=np.float64) for r in reaches])
            zone = geometry.utm_zone(lons, lats)
        for r in reaches:
            x, y, _ = geometry.lonlat_to_utm(r["ring_x"], r["ring_y"], zone=zone)
            out.append(_enrich_reach(r["section"], x, y))
        return out
    if frame != "local":
        raise ValueError(f"unknown frame {frame!r} (local|utm)")
    if lat0 is None or lon0 is None:
        lons = np.concatenate([np.asarray(r["ring_x"], dtype=np.float64) for r in reaches])
        lats = np.concatenate([np.asarray(r["ring_y"], dtype=np.float64) for r in reaches])
        lat0, lon0 = geometry.estimate_local_plane(lons, lats)
    for r in reaches:
        x, y = geometry.lonlat_to_planar(r["ring_x"], r["ring_y"], lat0, lon0)
        out.append(_enrich_reach(r["section"], x, y))
    return out


def reaches_from_df(df: DataFrame) -> list[dict]:
    out = [_enrich_reach(r["section"], r["ring_x"], r["ring_y"]) for r in df.collect()]
    return sorted(out, key=lambda d: d["section"])


def read_reaches(spark: SparkSession, path: str,
                 section_name_col: str | None = None) -> list[dict]:
    """Read a reach-polygon layer (S4). The layer is tiny (it
    broadcasts into every spatial join), so collecting it to plan
    metadata is the scale-correct move, not a shortcut.

    ``.shp`` paths read through the from-scratch ESRI reader
    (kernels/shapefile.py) — the reference's exact
    ``rcor_extent.shp`` entry form (examples/irm_example.ipynb cell 3;
    src/utils/wd_batch.py:400-423 gpd.read_file). The first ring of
    each polygon is the section outline (holes out of scope); section
    naming mirrors the reference exactly (src/utils/calc_metrics.py:
    preprocess_feature_operations): the 0-based feature index unless
    ``section_name_col`` names a DBF field. Anything else is the
    parquet reach layer."""
    if path.lower().endswith(".shp"):
        import os

        from .kernels import shapefile as shpk

        with open(path, "rb") as f:
            shp = f.read()
        dbf_path = path[:-4] + ".dbf"
        dbf = None
        if os.path.exists(dbf_path):
            with open(dbf_path, "rb") as f:
                dbf = f.read()
        st, shapes, records = shpk.read_shapefile(shp, dbf)
        if st != 5:
            raise ValueError(f"{path}: shape type {st} is not polygon")
        col_idx = None
        if section_name_col is not None:
            names = shpk.dbf_field_names(dbf) if dbf is not None else []
            if section_name_col not in names:
                raise ValueError(
                    f"Invalid section_name_col: {section_name_col}. "
                    f"Available columns: {names}")
            col_idx = names.index(section_name_col)
        reaches = []
        for i, parts in enumerate(shapes):
            rx, ry = parts[0]
            sec = str(i) if col_idx is None else str(records[i][col_idx])
            reaches.append(_enrich_reach(sec, np.asarray(rx), np.asarray(ry)))
        return reaches
    return reaches_from_df(spark.read.parquet(path))


def write_reaches(spark: SparkSession, reaches: list[dict], path: str) -> None:
    import pandas as pd

    pdf = pd.DataFrame([
        dict(section=str(r["section"]),
             ring_x=np.asarray(r["ring_x"], dtype=np.float64).tolist(),
             ring_y=np.asarray(r["ring_y"], dtype=np.float64).tolist())
        for r in reaches
    ])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
