"""End-to-end flagship pipeline: image table -> intermittency metrics.

Spark-first restatement of the reference's calculate_metrics lifecycle
(src/irm_main.py:117-236):

  images --mapInArrow--> mask points + per-image summary rows
           (decode + NDWI + hex tiling + in-corridor invalid counts)
         --groupBy(scene,date)--> >= 70 % validity filter (F6): the
           kept (scene, date) dimension
         --applyInPandas(scene, fill_cell)--> temporal fill + binarize;
           the kernel names each output row's date itself
         --broadcast cell join--> the candidate sections of each pixel
         --applyInPandas(scene, section)--> exact zonal membership (J1),
           per-date pool morphology and per-pixel persistence: one
           tagged, persisted output
         --hash aggregate + dimension right-join--> metrics fold (A7)
         --orderBy--> final table

Shuffle inventory (by design, data shrinks monotonically):
 1. per-(scene, date) aggregate of the mask rows (kept dimension,
 date-pruning list and validity probe: one scan, one small collect),
 2. fill groupBy (scene, fill_cell), 3. section groupBy (scene,
 section), 4. the fold's pool aggregate and the per-section
 persistence aggregate, both over the small section output, 5. final
 orderBy. With export_PP, ``api.calculate_metrics`` adds 6.
 groupBy(scene) of the per-pixel persistence rows: the GeoTIFF writer
 re-emits them into the parquet sink, so both persistence sinks are
 one action, run beside the metrics CSV. The spatial joins (the cover
 join, and the corridor join of the presence-only validity fallback)
 are broadcast — the point side never shuffles for them. At
 10^12-image scale the same plan holds: the polygon/cover side stays
 O(polygons), fill cells partition the corridor uniformly, and AQE's
 skew-join/coalesce handles dense cells. One section group holds that
 section's water rows for every kept date of one scene.

The intermediate mask-point table can be persisted (module-1 sink K1)
so module 2 reads parquet instead of re-decoding — mirroring the
reference's two-module split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import decode, fillop, metrics, morphology, zonal


class _LazyFrames(dict):
    """Result dict whose export entries build their (pure plan-side)
    DataFrames on first access. Fully dict-compatible: membership,
    iteration and len see the lazy keys; values()/items() force-build
    so callers that snapshot the dict still get every frame."""

    def __init__(self, **eager):
        super().__init__(eager)
        self._factories: dict = {}

    def add_factory(self, key, fn) -> None:
        self._factories[key] = fn

    def _build(self, key):
        if not dict.__contains__(self, key) and key in self._factories:
            self[key] = self._factories[key]()
        return dict.__getitem__(self, key)

    def __getitem__(self, key):
        return self._build(key)

    def get(self, key, default=None):
        try:
            return self._build(key)
        except KeyError:
            return default

    def __contains__(self, key):
        return dict.__contains__(self, key) or key in self._factories

    def _build_all(self):
        for k in list(self._factories):
            self._build(k)

    def keys(self):
        self._build_all()
        return dict.keys(self)

    def values(self):
        self._build_all()
        return dict.values(self)

    def items(self):
        self._build_all()
        return dict.items(self)

    def __iter__(self):
        self._build_all()
        return dict.__iter__(self)

    def __len__(self):
        self._build_all()
        return dict.__len__(self)


def _kept_stats(kept: DataFrame):
    """The driver's decisions from a kept (scene, date) frame, in one
    collect: kept-date list, kept row count, lowest and highest kept
    scene."""
    return kept.agg(
        F.collect_set("date").alias("d_kept"),
        F.count("*").alias("n_kept"),
        F.min("scene").alias("s_lo"),
        F.max("scene").alias("s_hi"),
    ).collect()[0]


def _kept_from_mask_table(mask_rows: DataFrame, points: DataFrame, corridor_cover: DataFrame,
                          reaches: list[dict], grid: dict, corridor_total: int,
                          invalid_offset: int):
    """F6 on a points-only input: (kept frame, driver stats, the frame it persisted).

    One persisted per-(scene, date) aggregate of the mask rows serves
    the date dimension, the >= 70 % kept flag, the counted/presence
    probe and the stats, in one scan of the mask table and one collect.
    Every mask row, not only the summaries, feeds the aggregate, so a
    (scene, date) whose points have no summary row shows up in the same
    collect. In a counted table that is an error: kept-ness would be
    silently guessed (0 invalid) or the date silently dropped.
    """
    ct, off = int(corridor_total), int(invalid_offset)
    # the exact float expression of fillop.keep_dates_fused, as SQL
    kept_sql = f"({ct} - (coalesce(n_invalid, 0) + {off})) / {ct} >= 0.7D"
    summary = f"value = {decode.SUMMARY_MARKER}"
    by_date = (
        mask_rows.filter(F.col("value") != decode.QUARANTINE_MARKER)
        .groupBy("scene", "date").agg(
            F.expr(f"sum(CASE WHEN {summary} AND cell >= 0 THEN cell END) AS n_invalid"),
            F.expr(f"count(CASE WHEN {summary} AND cell >= 0 THEN 1 END) AS n_counted"),
            F.expr(f"count(CASE WHEN {summary} AND cell < 0 THEN 1 END) AS n_presence"),
        )
        .selectExpr("scene", "date", "n_counted", "n_presence", f"{kept_sql} AS kept")
        .persist()
    )
    stats = by_date.agg(
        F.expr("collect_set(CASE WHEN kept THEN date END) AS d_kept"),
        F.expr("count(CASE WHEN kept THEN 1 END) AS n_kept"),
        F.expr("min(CASE WHEN kept THEN scene END) AS s_lo"),
        F.expr("max(CASE WHEN kept THEN scene END) AS s_hi"),
        F.expr("sum(n_counted) AS n_counted"),
        F.expr("sum(n_presence) AS n_presence"),
        F.expr("count(CASE WHEN n_counted + n_presence = 0 THEN 1 END) AS n_unsummarized"),
    ).collect()[0]
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
        return by_date.filter("kept").select("scene", "date"), stats, by_date
    # presence-only masks (module 1 ran without reaches), or no summary
    # rows at all (an external hand-built table): re-derive kept via
    # the corridor join over the same date dimension
    kept = fillop.keep_dates(points, by_date.select("scene", "date"), corridor_cover, reaches,
                             grid, corridor_total, invalid_offset=invalid_offset).persist()
    stats = _kept_stats(kept)
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
    the small date-dimension collects), plus two scalars:
    ``corridor_total`` and ``single_scene`` (exactly one scene has a
    kept date; it picks the flat persistence file name).

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
    in the F6 ratio via a constant per-date offset.
    """
    from . import lineage

    import numpy as np

    rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"])) for r in reaches]
    res = decode.CELL_RES  # the resolution every mask table's cell column carries

    # corridor constants first: they are O(polygons) jobs memoized per
    # (reaches, grid, res[, aoi]) content and the decode-path stats
    # observation below needs corridor_total before the mask write runs
    corridor_cover = zonal.corridor_cover_df(spark, reaches, res)
    corridor_total = fillop.corridor_pixel_count(spark, corridor_cover, reaches, grid, res)
    invalid_offset = 0
    if aoi is not None:
        # AOI-clipped masks: corridor pixels outside the module-1 buffer
        # were clipped away -> invalid (reference clips, THEN validates)
        corridor_in_aoi = fillop.corridor_pixel_count(spark, corridor_cover, reaches, grid, res, aoi=aoi)
        invalid_offset = corridor_total - corridor_in_aoi

    # per-row F6 predicate on fused summary rows — used by the stats
    # observation to piggyback the driver's two small decisions (date
    # prune list, broadcast gates) onto an action that already runs.
    # Exact kept-ness is a SUM of `cell` over a (scene, date)'s summary
    # rows; since decode emits exactly one summary row per image, the
    # per-row predicate equals the exact one, and with duplicate images
    # it yields a SUPERSET of kept dates (sum-kept => every row kept)
    # and an OVERESTIMATE of the kept row count — both safe directions
    # (prune list must not drop kept data; broadcast gate must not
    # broadcast an unbounded dim; a superset of kept scenes can only
    # turn a one-scene export into a per-scene file name). The same
    # float expression as keep_dates_fused so no FP-edge divergence.
    # one SQL string (r6 py4j-floor sweep): integer literals keep the
    # bigint arithmetic + double division identical to the old Column
    # tree (Spark `/` is always double in both forms)
    _row_kept_sql = (
        f"value = {decode.SUMMARY_MARKER} AND cell >= 0 "
        f"AND ({int(corridor_total)} - (cell + {int(invalid_offset)})) "
        f"/ {int(corridor_total)} >= 0.7D"
    )
    obs = None

    if points is None:
        # S1 uniformity is asserted per image inside the decode kernel
        # (map-side) — no separate validate action barrier. The aoi clip
        # passes through so the fused invalid counts and the emitted
        # points agree with the constant invalid_offset below (ADVICE
        # r2: clipping only in the offset double-counted out-of-AOI
        # nodata and leaked out-of-AOI pixels downstream).
        points = decode.decode_points(images, grid, res=res, corridor_rings=rings, aoi=aoi)
        if checkpoint_dir:
            # module-1 sink (K1) as a lineage stage: decode runs once ever
            points = lineage.run_stage(spark, points, checkpoint_dir, "mask_points",
                                       partition_by=["date"])
        elif mask_path:
            # plain (unpartitioned) parquet: at local scale a per-date
            # dynamic-partition write costs more in small-file commits than
            # pruning saves; a cluster deployment with years of history
            # would partitionBy("date") here (see lineage path).
            # The kept-date stats ride the write job as an Observation —
            # the r4 serial-floor fix: no separate stats action remains
            # between the mask sink and the final metrics job.
            from pyspark.sql import Observation

            obs = Observation()
            observed = points.observe(
                obs,
                F.expr(f"collect_set(CASE WHEN {_row_kept_sql} THEN date END) AS d_kept"),
                F.expr(f"sum(CASE WHEN {_row_kept_sql} THEN 1 ELSE 0 END) AS n_kept"),
                F.expr(f"min(CASE WHEN {_row_kept_sql} THEN scene END) AS s_lo"),
                F.expr(f"max(CASE WHEN {_row_kept_sql} THEN scene END) AS s_hi"),
            )
            observed.write.mode("overwrite").parquet(mask_path)
            points = decode.read_mask_sink(spark, mask_path, points)
        else:
            points = points.persist()

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
    # scene->dates map is GBs at 10^6 scenes x years of dates). On the
    # mask-write path those come from the write job's Observation —
    # zero extra actions; otherwise from one small collect.
    if images is None:
        kept, stats, kept_cache = _kept_from_mask_table(mask_rows, points, corridor_cover, reaches,
                                                        grid, corridor_total, invalid_offset)
    else:
        dates = decode.with_scene_date(images.select("image_id")).select("scene", "date").distinct()
        summaries = mask_rows.filter(F.col("value") == decode.SUMMARY_MARKER)
        kept = fillop.keep_dates_fused(summaries, dates, corridor_total,
                                       invalid_offset=invalid_offset).persist()
        kept_cache = kept
        if obs is not None:
            stats = obs.get
            # overlap (guide §2.6): the downstream fill/zonal/fold plan
            # build is ~0.4 s of driver-only py4j with the cluster idle;
            # materialize the persisted kept dimension on a daemon thread
            # meanwhile (a small scan of the just-written mask parquet +
            # one agg — exactly the job the metrics action would run
            # first). Only on this branch: without a mask sink, kept's
            # lineage still contains the full decode and a background
            # materialization would burn a decode for plan-only callers.
            # Errors are swallowed; the caller's action surfaces them.
            from pyspark import InheritableThread

            def _materialize_kept() -> None:
                try:
                    kept.count()
                except Exception:
                    pass

            InheritableThread(target=_materialize_kept, daemon=True).start()
        else:
            stats = _kept_stats(kept)
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
    # (scene, date) gets its ordinal t_idx + the scene's axis length
    # n_t; points carry two ints through the fill shuffle and the fill
    # kernel sizes its matrix from them. Broadcast: dimension-sized.
    kept_idx = kept.select(
        "scene", "date",
        F.date_format("date", "yyyy-MM-dd").alias("ds"),
        (F.row_number().over(Window.partitionBy("scene").orderBy("date")) - 1).alias("t_idx"),
        F.count("*").over(Window.partitionBy("scene")).alias("n_t"),
    )
    # broadcast only while the kept dimension is bounded (same 2M gate
    # as the fold dims): an unconditional hint would re-materialize the
    # whole (scene, date) dimension on the driver + every executor —
    # exactly the ceiling the de-drivering removed (ADVICE r3)
    if n_kept_rows <= 2_000_000:
        kept_idx = F.broadcast(kept_idx)
    points_kept = points.join(kept_idx.select("scene", "date", "t_idx", "n_t"), ["scene", "date"])
    # the fill kernel attaches the res-`res` cell key in-kernel
    # (out_cell_res): the fill stage grouped on the coarser fill_res
    # key, and the zonal cover join below keys on `res` cells
    water = fillop.filled_water(points_kept, reaches, grid, fill_nodata=fill_nodata,
                                out_cell_res=res)
    if checkpoint_dir:
        water = lineage.run_stage(spark, water, checkpoint_dir, "water_filled")

    cover = zonal.cover_df(spark, reaches, res)
    # zonal membership, persistence and morphology in one grouped map
    # per (scene, section): the cover join only names candidate
    # sections (JVM, no refine UDF); each group's scene axis length
    # comes from the same kept dimension the fill joined
    candidates = (water.join(F.broadcast(cover.select("cell", "section")), "cell").drop("cell")
                  .join(kept_idx.select("scene", "ds", F.col("n_t").alias("n_kept")),
                        ["scene", "ds"]))
    # persisted: the pools, the persistence table and the fold all
    # branch off this small output
    sections = morphology.section_rows(candidates, reaches, grid,
                                       min_pool_size=min_pool_size).persist()
    pools = sections.filter("is_pool").select(*morphology.POOLS_COLUMNS)
    persistence_px = sections.filter("NOT is_pool").select("scene", "section", "px", "py", "wet", "pp")
    pers = metrics.persistence(persistence_px, grid["ps"])
    grid_df = metrics.dimension_grid(kept, reaches)
    # broadcast the fold's dim sides only while the keyspace is bounded
    n_groups = n_kept_rows * max(len(reaches), 1)
    final = metrics.fold(pools, grid_df, pers, section_length=section_length,
                         broadcast_dims=n_groups <= 2_000_000)
    from ..operators import exports as exports_op

    # export plans build on first access: each is ~0.1 s of py4j
    # expression construction that a metrics-only caller (the common
    # path) never uses — part of the r5 serial-floor cut
    out = _LazyFrames(
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
    # the exact per-row zonal join is off the metrics path: vector
    # exports and row-level checks read it, unpersisted
    out.add_factory("water_joined", lambda: zonal.zonal_join(water, cover, reaches, grid))
    out.add_factory("polygons", lambda: exports_op.pool_polygons(
        out["water_joined"], reaches, grid, min_pool_size))
    out.add_factory("lines", lambda: exports_op.pool_lines(pools, grid))
    out.add_factory("points", lambda: exports_op.line_points(out["lines"]))
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
