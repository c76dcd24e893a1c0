"""End-to-end flagship pipeline: image table -> intermittency metrics.

Spark-first restatement of the reference's calculate_metrics lifecycle
(src/irm_main.py:117-236):

  images --mapInArrow--> mask points + per-image summary rows
           (decode + NDWI + hex tiling + in-corridor invalid counts)
         --sink--> the mask table: a lineage stage, parquet files the
           decode tasks write themselves (decode.write_mask_table) read
           back, or a persist(); a mask-table input starts here
         --groupBy(scene,date)--> >= 70 % validity filter (F6): the
           kept (scene, date) dimension and its time axis, persisted
         --applyInPandas(scene, fill_cell)--> temporal fill + binarize;
           the kernel names each output row's date and carries its
           scene's kept-date count
         --broadcast cell join--> the candidate sections of each pixel
         --applyInPandas(scene, section)--> exact zonal membership (J1),
           per-date pool morphology, per-pixel persistence, and the
           fold's per-date sums and per-section persistence summary:
           one tagged, persisted output
         --left joins from the dimension grid--> metrics fold (A7)
         --orderBy--> final table

Shuffle inventory (by design, data shrinks monotonically):
 1. per-(scene, date) aggregate of the mask rows and a window over it
 by scene (kept dimension with its time axis, date-pruning list and
 validity probe: one scan, one persist, one small collect),
 2. fill groupBy (scene, fill_cell), 3. section groupBy (scene,
 section), 4. final orderBy. Nothing is summed after the section
 kernel: the fold broadcasts its pre-folded rows onto the dimension
 grid, each side through a key-only aggregate in one task (no
 shuffle). With export_PP, ``api.calculate_metrics`` adds 5.
 groupBy(scene) of the per-pixel persistence rows: the GeoTIFF writer
 re-emits them into the parquet sink, so both persistence sinks are
 one action, run beside the metrics CSV. The spatial joins (the cover
 join, and the corridor join of the presence-only validity fallback)
 are broadcast — the point side never shuffles for them. At
 10^12-image scale the same plan holds: the polygon/cover side stays
 O(polygons), fill cells partition the corridor uniformly, and AQE's
 skew-join/coalesce handles dense cells. One section group holds that
 section's water rows for every kept date of one scene.

Every input runs one F6 code path: an image table is first decoded
into its sink (module-1 sink K1), and module 2 reads the mask table
back — mirroring the reference's two-module split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import decode, fillop, metrics, morphology, zonal


class _LazyFrames(dict):
    """Result dict whose export plans build on first ``[]`` access:
    each is ~0.1 s of py4j expression construction that a metrics-only
    caller never uses."""

    def __init__(self, factories: dict, **eager):
        super().__init__(eager)
        self._factories = factories

    def __missing__(self, key):
        value = self[key] = self._factories[key]()
        return value


def _kept_stats(df: DataFrame, kept: str, *more: str):
    """The driver's decisions in one collect: kept-date list, kept row
    count, lowest and highest kept scene (rows where ``kept`` holds),
    plus the aggregates ``more``."""
    return df.agg(*(F.expr(e) for e in (
        f"collect_set(CASE WHEN {kept} THEN date END) AS d_kept",
        f"count(CASE WHEN {kept} THEN 1 END) AS n_kept",
        f"min(CASE WHEN {kept} THEN scene END) AS s_lo",
        f"max(CASE WHEN {kept} THEN scene END) AS s_hi",
        *more))).collect()[0]


def _with_time_axis(dates: DataFrame, kept: str) -> DataFrame:
    """Adds the scene-local time axis of the rows where ``kept`` holds:
    the ordinal ``t_idx`` and the scene's axis length ``n_t``. Computed
    once, ahead of the persist that the fill join reads."""
    one = f"CASE WHEN {kept} THEN 1 ELSE 0 END"
    return dates.selectExpr(
        "*",
        f"CAST(sum({one}) OVER (PARTITION BY scene ORDER BY date "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS INT) AS t_idx",
        f"sum({one}) OVER (PARTITION BY scene) AS n_t")


def _kept_from_mask_table(mask_rows: DataFrame, points: DataFrame, corridor_cover: DataFrame,
                          reaches: list[dict], grid: dict, corridor_total: int,
                          invalid_offset: int):
    """F6: (kept frame, driver stats, the frame it persisted).

    The kept frame holds one row per kept (scene, date) with its time
    axis (``t_idx``, ``n_t``). One persisted per-(scene, date)
    aggregate of the mask rows serves the date dimension, the >= 70 %
    kept flag, the time axis, the counted/presence probe and the stats,
    in one scan of the mask table and one collect. Every mask row, not
    only the summaries, feeds the aggregate, so a (scene, date) whose
    points have no summary row shows up in the same collect. In a
    counted table that is an error: kept-ness would be silently guessed
    (0 invalid) or the date silently dropped.
    """
    ct, off = int(corridor_total), int(invalid_offset)
    # the exact float expression of fillop.keep_dates_fused, as SQL
    kept_sql = f"({ct} - (coalesce(n_invalid, 0) + {off})) / {ct} >= 0.7D"
    summary = f"value = {decode.SUMMARY_MARKER}"
    by_date = _with_time_axis(
        mask_rows.filter(F.col("value") != decode.QUARANTINE_MARKER)
        .groupBy("scene", "date").agg(
            F.expr(f"sum(CASE WHEN {summary} AND cell >= 0 THEN cell END) AS n_invalid"),
            F.expr(f"count(CASE WHEN {summary} AND cell >= 0 THEN 1 END) AS n_counted"),
            F.expr(f"count(CASE WHEN {summary} AND cell < 0 THEN 1 END) AS n_presence"),
        )
        .selectExpr("scene", "date", "n_counted", "n_presence", f"{kept_sql} AS kept"),
        "kept",
    ).persist()
    stats = _kept_stats(by_date, "kept", "sum(n_counted) AS n_counted",
                        "sum(n_presence) AS n_presence",
                        "count(CASE WHEN n_counted + n_presence = 0 THEN 1 END) AS n_unsummarized")
    n_counted = int(stats["n_counted"] or 0)
    # Mixed tables (counted AND presence-only summaries unioned from
    # different module-1 runs) are rejected: the fused path would
    # silently treat presence-only dates as zero-invalid (ADVICE r2)
    if n_counted and int(stats["n_presence"] or 0):
        by_date.unpersist()
        raise ValueError(
            "mixed mask table: both counted (cell >= 0) and presence-only "
            "(cell == -1) summary rows present — re-run module 1 uniformly "
            "(with or without reaches) or split the table per run"
        )
    if n_counted:
        if stats["n_unsummarized"]:
            by_date.unpersist()
            raise ValueError(
                f"mask table: {stats['n_unsummarized']} (scene, date) group(s) have mask "
                "points but no summary row — their in-corridor invalid count is unknown; "
                "re-run module 1 for those images")
        return by_date.filter("kept").select("scene", "date", "t_idx", "n_t"), stats, by_date
    # presence-only masks (module 1 ran without reaches), or no summary
    # rows at all (an external hand-built table): re-derive kept via
    # the corridor join over the same date dimension
    kept = _with_time_axis(
        fillop.keep_dates(points, by_date.select("scene", "date"), corridor_cover, reaches,
                          grid, corridor_total, invalid_offset=invalid_offset),
        "true").persist()
    stats = _kept_stats(kept, "true")
    by_date.unpersist()
    return kept, stats, kept


def run(
    spark: SparkSession,
    images: DataFrame | None,
    reaches: list[dict],
    grid: dict,
    min_pool_size: int = 2,
    section_length: float = float("nan"),
    mask_path: str | None = None,
    checkpoint_dir: str | None = None,
    points: DataFrame | None = None,
    fill_nodata: bool = True,
    aoi: tuple[list, float] | None = None,
) -> dict[str, DataFrame]:
    """Returns the named intermediate + final DataFrames (all lazy except
    the small date-dimension collect), plus two scalars:
    ``corridor_total`` and ``single_scene`` (exactly one scene has a
    kept date; it picks the flat persistence file name).

    images: the image table. Module 1 decodes it into the sink the
    caller picked — the ``checkpoint_dir`` lineage stage, the parquet
    table at ``mask_path`` (its files written by the decode tasks
    themselves, :func:`decode.write_mask_table`) read back, or else a
    ``persist()`` — and module 2 then reads that sink back like any
    other mask table.

    checkpoint_dir: enable per-stage lineage checkpointing (P8) — a
    rerun with the same dir resumes after the last completed stage.

    points: a pre-decoded mask-point table (the module-1 sink read
    back, e.g. from ``api.waterdetect_batch``) — module 2 then starts
    from points and never touches image bytes, mirroring the
    reference's two-module split (src/irm_main.py:117: calculate_metrics
    consumes da_wmask, not imagery). Every mask table carries per-image
    presence rows, so the (scene, date) dimension is complete even for
    all-dry images; when those rows lack in-corridor invalid COUNTS
    (module 1 ran without reaches) the >= 70 % validity filter falls
    back to the corridor-join formulation (one extra pass over nodata
    points only). In a counted table, a (scene, date) with mask points
    but no summary row raises ValueError, like a mixed table.

    aoi: (lines, buffer_m) — REQUIRED when ``points`` came from an
    AOI-clipped module-1 run and reference clip semantics matter:
    corridor pixels outside the buffer were clipped away (the reference
    turns them into nodata before validating), so they count as invalid
    in the F6 ratio via a constant per-date offset. With ``images`` the
    decode applies the same clip.
    """
    from . import lineage

    import numpy as np

    rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"])) for r in reaches]
    res = decode.CELL_RES  # the resolution every mask table's cell column carries

    # corridor constants: O(polygons) jobs memoized per
    # (reaches, grid, res[, aoi]) content
    corridor_cover = zonal.corridor_cover_df(spark, reaches, res)
    corridor_total = fillop.corridor_pixel_count(spark, corridor_cover, reaches, grid, res)
    invalid_offset = 0
    if aoi is not None:
        # AOI-clipped masks: corridor pixels outside the module-1 buffer
        # were clipped away -> invalid (reference clips, THEN validates)
        corridor_in_aoi = fillop.corridor_pixel_count(spark, corridor_cover, reaches, grid, res, aoi=aoi)
        invalid_offset = corridor_total - corridor_in_aoi

    if points is None:
        # module 1. S1 uniformity is asserted per image inside the decode
        # kernel (map-side) — no separate validate action barrier. The
        # aoi clip passes through so the fused invalid counts and the
        # emitted points agree with the constant invalid_offset above
        # (ADVICE r2: clipping only in the offset double-counted
        # out-of-AOI nodata and leaked out-of-AOI pixels downstream).
        decode_kwargs = dict(res=res, corridor_rings=rings, aoi=aoi)
        if checkpoint_dir:
            # module-1 sink (K1) as a lineage stage: decode runs once ever
            points = lineage.run_stage(spark, decode.decode_points(images, grid, **decode_kwargs),
                                       checkpoint_dir, "mask_points", partition_by=["date"])
        elif mask_path:
            # plain (unpartitioned) parquet, written by the decode tasks
            # themselves: at local scale a per-date dynamic-partition
            # write costs more in small-file commits than pruning saves;
            # a cluster deployment with years of history would partition
            # by date here (see lineage path)
            points = decode.write_mask_table(images, mask_path, grid, **decode_kwargs)
        else:
            points = decode.decode_points(images, grid, **decode_kwargs).persist()

    # fused summary rows carry per-image in-corridor invalid counts;
    # real mask points are everything else (quarantine rows from a
    # decode_points(on_undecodable='quarantine') table are dropped —
    # an undecodable image contributes nothing to the metrics)
    mask_rows = points
    points = points.filter(~F.col("value").isin(decode.SUMMARY_MARKER,
                                                decode.QUARANTINE_MARKER))

    # the kept (scene, date) dimension stays DISTRIBUTED: the driver
    # needs only the distinct-date pruning list, a row-count bound and
    # whether one scene is kept (r2 VERDICT: the old kept.collect()
    # scene->dates map is GBs at 10^6 scenes x years of dates), from
    # one small collect
    kept, stats, kept_cache = _kept_from_mask_table(mask_rows, points, corridor_cover, reaches,
                                                    grid, corridor_total, invalid_offset)
    kept_dates_all = sorted(d for d in (stats["d_kept"] or []) if d is not None)
    n_kept_rows = int(stats["n_kept"] or 0)
    single_scene = stats["s_lo"] is not None and stats["s_lo"] == stats["s_hi"]

    # date-pruning prefilter ahead of the exact (scene, date) join: an
    # isin on the (small) distinct kept-date list pushes into the
    # parquet scan as row-group min/max pruning — the join alone can't
    # prune the mask-table scan (r1 serial-floor item). Skipped when
    # the date list is large enough to bloat the plan.
    if 0 < len(kept_dates_all) <= 1000:
        # one SQL string, not F.col.isin(list): isin builds one py4j
        # literal per element (~400 round trips for 63 dates — the
        # single largest plan-construction cost in the r6 profile);
        # the parsed IN-list pushes down identically
        in_list = ", ".join(f"DATE'{d}'" for d in kept_dates_all)
        points = points.filter(F.expr(f"date IN ({in_list})"))

    # scene-local time axis as data, not driver state: every kept
    # (scene, date) carries its ordinal t_idx + the scene's axis length
    # n_t; points carry two ints through the fill shuffle and the fill
    # kernel sizes its matrix from them. Broadcast only while the kept
    # dimension is bounded (same 2M gate as the fold dims): an
    # unconditional hint would re-materialize the whole (scene, date)
    # dimension on the driver + every executor — exactly the ceiling
    # the de-drivering removed (ADVICE r3)
    kept_dim = F.broadcast(kept) if n_kept_rows <= 2_000_000 else kept
    points_kept = points.join(kept_dim.select("scene", "date", "t_idx", "n_t"), ["scene", "date"])
    # the fill kernel attaches the res-`res` cell key in-kernel
    # (out_cell_res): the fill stage grouped on the coarser fill_res
    # key, and the zonal cover join below keys on `res` cells
    water = fillop.filled_water(points_kept, reaches, grid, fill_nodata=fill_nodata,
                                out_cell_res=res)
    if checkpoint_dir:
        water = lineage.run_stage(spark, water, checkpoint_dir, "water_filled")

    cover = zonal.cover_df(spark, reaches, res)
    # zonal membership, morphology, persistence and the fold's sums in
    # one grouped map per (scene, section): the cover join only names
    # candidate sections (JVM, no refine UDF); each row carries its
    # scene's axis length from the fill
    candidates = water.join(F.broadcast(cover.select("cell", "section")), "cell").drop("cell")
    # persisted: pools, persistence and the fold all branch off this
    # small output
    sections = morphology.section_rows(candidates, reaches, grid,
                                       min_pool_size=min_pool_size).persist()

    def kind(k: int, *cols: str) -> DataFrame:
        return sections.filter(f"kind = {k}").select(*cols)

    pools = kind(morphology.POOL, *morphology.POOLS_COLUMNS)
    persistence_px = kind(morphology.PIXEL, "scene", "section", "px", "py", "wet", "pp")
    pers = kind(morphology.PERSISTENCE, "scene", "section", "pp_mean", "ra_area")
    kept = kept.select("scene", "date")
    grid_df = metrics.dimension_grid(kept, reaches)
    # broadcast the fold's dim sides only while the keyspace is bounded
    n_groups = n_kept_rows * max(len(reaches), 1)
    final = metrics.fold(kind(morphology.SUMS, "scene", "ds", "section", *morphology.SUMS_COLUMNS),
                         grid_df, pers, section_length=section_length,
                         broadcast_dims=n_groups <= 2_000_000)
    from ..operators import exports as exports_op

    # the fill's documented columns, without the section kernel's n_kept
    water = water.drop("n_kept")

    # the exact per-row zonal join is off the metrics path: vector
    # exports and row-level checks read it, unpersisted
    out = _LazyFrames(
        dict(
            water_joined=lambda: zonal.zonal_join(water, cover, reaches, grid),
            polygons=lambda: exports_op.pool_polygons(out["water_joined"], reaches, grid,
                                                      min_pool_size),
            lines=lambda: exports_op.pool_lines(pools, grid),
            points=lambda: exports_op.line_points(out["lines"]),
        ),
        mask_points=points,
        kept=kept,
        water=water,
        persistence=pers,
        pools=pools,
        persistence_px=persistence_px,
        metrics=final,
        corridor_total=corridor_total,
        single_scene=single_scene,
    )
    # what this call persisted, for api.calculate_metrics to release
    out.persisted = [df for df in (mask_rows, kept_cache, sections) if df.is_cached]
    return out


def images_df(spark: SparkSession, images_pdf) -> DataFrame:
    """Create the image table DataFrame with the contract schema.

    The Arrow conversion inside ``createDataFrame`` slices the pandas
    frame by ``maxRecordsPerBatch`` ONLY — Spark 4's byte-based
    ``maxBytesPerBatch`` does not govern this path — and at the
    session's 10000-row default a batch of ~200 KB image rows crosses
    the 2 GiB int32-offset limit of a (non-large) Arrow binary column.
    Observed as a silent AQE hang materializing the cached image table
    at the 384-scene scaling input (r8). Pin a byte-safe row count for
    this one wide-binary conversion; the session default stays 10000
    for narrow-row stages."""
    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType(), False),
            T.StructField("bytes", T.BinaryType(), False),
            T.StructField("w", T.IntegerType(), False),
            T.StructField("h", T.IntegerType(), False),
            T.StructField("fmt", T.StringType(), False),
            T.StructField("caption", T.StringType(), False),
            T.StructField("phash", T.LongType(), False),
        ]
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "512")
    try:
        return spark.createDataFrame(images_pdf, schema)
    finally:
        spark.conf.set(key, old)
