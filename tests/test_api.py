"""Public-API wrappers: waterdetect_batch + calculate_metrics must
reproduce the pipeline goldens end-to-end (VERDICT r1 item 2), enforce
the band contract, apply the buffered-AOI clip, and round-trip the
vector reach layer (S4)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from irivermetrics_spark import api, codecs, synth
from irivermetrics_spark.functions import cellindex, geometry
from irivermetrics_spark.operators import decode
from irivermetrics_spark.plans import pipeline
from tests.conftest import kept_map


def _fx():
    fx = synth.make_fixture(w=80, h=40, n_dates=10, n_sections=3, seed=42)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    return fx, grid


def _metrics_pdf(res):
    pdf = res["metrics"].toPandas().sort_values(["scene", "section", "date"]).reset_index(drop=True)
    return pdf.drop(columns=["section_length_km"])  # NaN-only col


def test_api_two_module_flow_matches_pipeline(spark, tmp_path):
    """waterdetect_batch -> parquet -> calculate_metrics == pipeline.run,
    both with fused summaries (reaches passed to module 1) and with the
    fallback validity re-scan (no summaries in the mask table)."""
    fx, grid = _fx()
    images = pipeline.images_df(spark, fx.images)
    direct = _metrics_pdf(pipeline.run(spark, images, fx.reaches, grid))

    lines = synth.river_lines(fx)
    buffer_m = 25 * fx.pixel_size  # covers the reach corridor entirely

    # module 1 WITH fused summaries, K1 parquet sink
    masks = api.waterdetect_batch(
        spark, images, r_lines=lines, grid=grid, buffer=buffer_m,
        reaches=fx.reaches, mask_path=str(tmp_path / "api_mask"),
    )
    via_api = _metrics_pdf(api.calculate_metrics(spark, masks, fx.reaches, grid=grid))
    pd.testing.assert_frame_equal(via_api, direct)

    # module 1 WITHOUT summaries -> calculate_metrics validity fallback,
    # which equi-joins the mask `cell` against module 2's corridor cover:
    # cell ids pack the resolution, so both sides must use CELL_RES
    masks2 = api.waterdetect_batch(spark, images, r_lines=lines, grid=grid, buffer=buffer_m)
    cells = [r.cell for r in masks2.where("px >= 0").select("cell").distinct().collect()]
    assert set(cellindex._unpack(np.array(cells))[1].tolist()) == {decode.CELL_RES}
    via_fallback = _metrics_pdf(api.calculate_metrics(spark, masks2, fx.reaches, grid=grid))
    pd.testing.assert_frame_equal(via_fallback, direct)


def test_api_accepts_images_directly(spark):
    fx, grid = _fx()
    images = pipeline.images_df(spark, fx.images)
    direct = _metrics_pdf(pipeline.run(spark, images, fx.reaches, grid))
    via_api = _metrics_pdf(api.calculate_metrics(spark, images, fx.reaches, grid=grid))
    pd.testing.assert_frame_equal(via_api, direct)


def test_band_contract_rejected(spark):
    """A 3-band table must fail validation like the reference
    (src/utils/wd_batch.py:316-327)."""
    fx, grid = _fx()
    rng = np.random.default_rng(1)
    arr = rng.integers(0, 20000, (3, fx.h, fx.w)).astype(np.uint16)
    pdf = pd.DataFrame([dict(
        image_id="scene0_2020-01-01", bytes=codecs.encode_image(arr),
        w=fx.w, h=fx.h, fmt="raw16", caption="c", phash=0,
    )])
    images = pipeline.images_df(spark, pdf)
    with pytest.raises(ValueError, match="at least 4 bands"):
        api.waterdetect_batch(spark, images, grid=grid)


def test_validate_band_names():
    assert api.validate_band_names(4) == ["Blue", "Green", "Red", "Nir"]
    assert api.validate_band_names(6) == ["Blue", "Green", "Red", "Nir", "Mir2", "Band_6"]
    with pytest.raises(ValueError):
        api.validate_band_names(3)


def test_aoi_buffer_clips_points(spark):
    """Every emitted point is within the buffer of the line; a tight
    buffer drops off-channel pond pixels a wide one keeps."""
    fx, grid = _fx()
    images = pipeline.images_df(spark, fx.images)
    lines = synth.river_lines(fx)
    tight = api.waterdetect_batch(spark, images, r_lines=lines, grid=grid,
                                  buffer=5 * fx.pixel_size)
    wide = api.waterdetect_batch(spark, images, r_lines=lines, grid=grid,
                                 buffer=60 * fx.pixel_size)
    from irivermetrics_spark.operators import decode as decode_op

    tight = tight.filter(F.col("value") != decode_op.SUMMARY_MARKER)
    wide = wide.filter(F.col("value") != decode_op.SUMMARY_MARKER)
    n_tight, n_wide = tight.count(), wide.count()
    assert 0 < n_tight < n_wide

    pts = tight.select("px", "py").distinct().toPandas()
    lx, ly = lines[0]["x"], lines[0]["y"]
    cx = grid["gx0"] + (pts.px.to_numpy() + 0.5) * grid["ps"]
    cy = grid["gy0"] - (pts.py.to_numpy() + 0.5) * grid["ps"]
    d = geometry.dist_to_polyline(cx, cy, lx, ly)
    assert (d <= 5 * fx.pixel_size + 1e-9).all()


def test_dist_to_polyline_oracle():
    # horizontal segment from (0,0) to (10,0)
    d = geometry.dist_to_polyline(
        np.array([5.0, -3.0, 13.0, 5.0]), np.array([4.0, 4.0, -4.0, 0.0]),
        np.array([0.0, 10.0]), np.array([0.0, 0.0]),
    )
    np.testing.assert_allclose(d, [4.0, 5.0, 5.0, 0.0])


def test_reach_layer_roundtrip(spark, tmp_path):
    """S4: write the reach layer to parquet, read it back, and verify
    the pipeline produces identical metrics from the read-back layer."""
    fx, grid = _fx()
    path = str(tmp_path / "reaches.parquet")
    api.write_reaches(spark, fx.reaches, path)
    back = api.read_reaches(spark, path)
    assert [r["section"] for r in back] == [r["section"] for r in fx.reaches]
    for a, b in zip(back, fx.reaches):
        assert abs(a["area_m2"] - b["area_m2"]) < 1e-6
        np.testing.assert_allclose(a["ring_x"], b["ring_x"])
        assert a["xmin"] == pytest.approx(b["xmin"])

    images = pipeline.images_df(spark, fx.images)
    direct = _metrics_pdf(pipeline.run(spark, images, fx.reaches, grid))
    via_path = _metrics_pdf(api.calculate_metrics(spark, images, path, grid=grid))
    pd.testing.assert_frame_equal(via_path, direct)


def test_pixel_persistence_export(spark, tmp_path):
    """K2: the per-pixel pp table matches a numpy oracle computed from
    the water/zonal rows, and the dense raster reassembles it."""
    from irivermetrics_spark.operators import exports

    fx, grid = _fx()
    images = pipeline.images_df(spark, fx.images)
    res = pipeline.run(spark, images, fx.reaches, grid)
    wj = res["water_joined"].toPandas()
    n_dates = len(kept_map(res)["scene0"])

    pp = res["persistence_px"].toPandas()
    # numpy oracle: wet-count / n_dates per (section, pixel)
    oracle = (
        wj.groupby(["scene", "section", "px", "py"], as_index=False)
        .agg(wet=("ds", "size"))
    )
    oracle["pp"] = oracle.wet / n_dates
    merged = pp.merge(oracle, on=["scene", "section", "px", "py"], how="outer",
                      suffixes=("", "_o"))
    assert len(merged) == len(pp) == len(oracle)
    np.testing.assert_allclose(merged.pp.to_numpy(), merged.pp_o.to_numpy())

    # dense raster reassembly
    ras = exports.persistence_raster(res["persistence_px"], grid, "scene0")
    assert ras.shape == (grid["h"], grid["w"])
    best = pp.groupby(["px", "py"]).pp.max()
    for (px, py), v in best.items():
        assert ras[py, px] == pytest.approx(v)
    assert (ras >= 0).all() and ras.max() <= 1.0 + 1e-9

    # parquet sink
    path = str(tmp_path / "pp.parquet")
    exports.write_pixel_persistence(res["persistence_px"], path)
    assert spark.read.parquet(path).count() == len(pp)


def test_all_dry_date_survives_points_only_path(spark):
    """An all-dry valid image emits zero mask points; its (scene, date)
    must still reach the metrics dimension grid through the points-only
    module-2 path (presence summary rows), producing the reference's
    zero-branch row."""
    fx, grid = _fx()
    # make the 3rd date all-dry: re-encode bands for an all-zero mask
    rng = np.random.default_rng(99)
    dry = synth.bands_for_mask(np.zeros((fx.h, fx.w), dtype=np.int8), rng)
    pdf = fx.images.copy()
    idx = pdf.index[2]
    pdf.loc[idx, "bytes"] = codecs.encode_image(dry)
    pdf.loc[idx, "phash"] = codecs.phash64(dry)
    images = pipeline.images_df(spark, pdf)

    # module 1 WITHOUT reaches (presence-only summaries), then module 2
    masks = api.waterdetect_batch(spark, images, grid=grid)
    res = api.calculate_metrics(spark, masks, fx.reaches, grid=grid)
    m = res["metrics"].toPandas()
    dry_date = pdf.loc[idx, "image_id"].split("_", 1)[1]
    rows = m[m.date == dry_date]
    assert len(rows) == len(fx.reaches)  # one zero-branch row per section
    assert (rows.npools == 0).all() and (rows.wet_area_km2 == 0).all()


def test_aoi_clip_f6_counts_clipped_corridor_as_invalid(spark):
    """Reference semantics: clip first, validate after — corridor pixels
    outside the module-1 buffer are nodata in the clipped cube and must
    count against the >= 70 % gate. Verified against a numpy oracle of
    the kept-date set."""
    from irivermetrics_spark.functions import geometry

    fx, grid = _fx()
    lines = synth.river_lines(fx)
    buffer_m = 6 * fx.pixel_size  # tight: clips real corridor area
    images = pipeline.images_df(spark, fx.images)

    masks = api.waterdetect_batch(spark, images, r_lines=lines, grid=grid,
                                  buffer=buffer_m, reaches=fx.reaches)
    res = api.calculate_metrics(spark, masks, fx.reaches, grid=grid,
                                r_lines=lines, buffer=buffer_m)
    got_kept = set(kept_map(res).get("scene0", []))

    # numpy oracle over the fixture truth masks
    xs = fx.px_x(np.arange(fx.w))
    ys = fx.px_y(np.arange(fx.h))
    CX, CY = np.meshgrid(xs, ys)
    corridor = np.zeros((fx.h, fx.w), dtype=bool)
    for r in fx.reaches:
        corridor |= geometry.point_in_polygon(
            CX.ravel(), CY.ravel(), np.asarray(r["ring_x"]), np.asarray(r["ring_y"])
        ).reshape(fx.h, fx.w)
    lx, ly = lines[0]["x"], lines[0]["y"]
    in_aoi = (geometry.min_dist_to_polylines(CX.ravel(), CY.ravel(), [(lx, ly)])
              <= buffer_m).reshape(fx.h, fx.w)
    N = int(corridor.sum())
    offset = int((corridor & ~in_aoi).sum())
    assert offset > 0  # the tight buffer really clips corridor pixels
    expect_kept = set()
    for i, d in enumerate(fx.dates):
        invalid = int(((fx.masks[0, i] == -1) & corridor & in_aoi).sum()) + offset
        if (N - invalid) / N >= 0.7:
            expect_kept.add(d.isoformat())
    assert got_kept == expect_kept
    # and the un-clipped run keeps at least as many dates
    res_unclipped = api.calculate_metrics(spark, masks, fx.reaches, grid=grid)
    assert set(kept_map(res_unclipped).get("scene0", [])) >= got_kept


def test_minimal_reach_dicts_normalized(spark):
    """calculate_metrics must accept reach dicts carrying only
    (section, ring_x, ring_y) — bbox/area are derived."""
    fx, grid = _fx()
    minimal = [dict(section=r["section"], ring_x=r["ring_x"], ring_y=r["ring_y"])
               for r in fx.reaches]
    images = pipeline.images_df(spark, fx.images)
    direct = _metrics_pdf(pipeline.run(spark, images, fx.reaches, grid))
    via_min = _metrics_pdf(api.calculate_metrics(spark, images, minimal, grid=grid))
    pd.testing.assert_frame_equal(via_min, direct)


def test_fill_nodata_false_skips_fill(spark):
    """fill_nodata=False binarizes without temporal fill — wet pixel
    count can only drop (nodata gaps stay dry)."""
    fx, grid = _fx()
    images = pipeline.images_df(spark, fx.images)
    filled = api.calculate_metrics(spark, images, fx.reaches, grid=grid)
    unfilled = api.calculate_metrics(spark, images, fx.reaches, grid=grid, fill_nodata=False)
    a = filled["water_joined"].count()
    b = unfilled["water_joined"].count()
    assert b <= a
    m = _metrics_pdf(unfilled)
    assert len(m) == len(_metrics_pdf(filled))  # same dimension grid


def test_mask_sink_read_back_schema_matches_footer_inference(spark, tmp_path):
    """waterdetect_batch reads its mask sink back with the written
    schema made all-nullable, not by footer inference: the two must be
    the same schema, or module 2 would see a different table."""
    fx, grid = _fx()
    images = pipeline.images_df(spark, fx.images)
    path = str(tmp_path / "masks")
    masks = api.waterdetect_batch(spark, images, grid=grid, reaches=fx.reaches, mask_path=path)
    inferred = spark.read.parquet(path)
    assert masks.schema == inferred.schema
    assert masks.count() == inferred.count()
