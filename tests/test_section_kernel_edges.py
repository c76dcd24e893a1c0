"""Edge cases of the per-(scene, section) kernel, through the Spark path
and against the numpy oracle: overlapping sections that share pixels,
pools touching their clip edge, a section that is nodata on every kept
date (unfillable), a section that is dry on every date, a dropped
all-nodata date and ``fill_nodata=False``. The degenerate reach is in
test_morphology_stage.py."""

import numpy as np
import pytest

from irivermetrics_spark import api, synth
from irivermetrics_spark.kernels import fill
from irivermetrics_spark.operators import morphology
from irivermetrics_spark.oracle import numpy_oracle
from irivermetrics_spark.plans import pipeline
from tests.conftest import kept_map

W, H, N_DATES = 48, 20, 7
ALL_NODATA_DATE = 3
FLOAT_COLS = ["wet_area_km2", "wet_length_km", "wet_perimeter_km", "AWMSI", "AWRe", "AWMPA",
              "AWMPL", "AWMPW", "PF", "PFL", "APSEC", "LPSEC", "pp_mean_%", "ra_area_km2"]


def _reach(section, x0, x1, y0, y1):
    """A quadrilateral with a slanted top edge, in pixel units."""
    px = np.array([x0, x1, x1, x0, x0])
    py = np.array([y0 + 1.37, y0, y1, y1, y0 + 1.37])
    return api.normalize_reaches([dict(section=section,
                                       ring_x=synth.GX0 + px * synth.PIXEL_SIZE,
                                       ring_y=synth.GY0 - py * synth.PIXEL_SIZE)])[0]


def _fixture():
    reaches = [
        _reach("a", 0.31, 20.72, 2.23, 17.61),
        _reach("b", 14.18, 30.64, 3.41, 16.77),  # shares columns 14-20 with a
        _reach("c", 31.27, 38.69, 2.57, 17.33),  # nodata on every date
        _reach("d", 39.22, 47.58, 2.19, 17.46),  # dry on every date
    ]
    masks = np.zeros((1, N_DATES, H, W), dtype=np.int8)
    for t in range(N_DATES):
        m = masks[0, t]
        # a channel across a and b, its width varying by date: its pools
        # run into the left and right edges of both clips
        m[9 - t % 3: 11 + t % 2, :31] = 1
        m[3:5, 15:18] = 1  # a pool in the shared top-left corner of b
        if t % 2:
            m[14:17, 2:6] = 1  # an intermittent pool in a
        m[:, 31:39] = -1  # unfillable: c is nodata on every date
    masks[0, 2, 9:12, 4:9] = -1  # fillable nodata inside the channel
    masks[0, ALL_NODATA_DATE] = -1  # fails the validity bar
    fx = synth.Fixture(w=W, h=H, dates=synth.semimonthly_dates(N_DATES), masks=masks,
                       reaches=reaches)
    fx.images = synth.encode_images(fx)
    return fx


@pytest.fixture(scope="module")
def fx():
    return _fixture()


def _run(spark, fx, fill_nodata=True):
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    return pipeline.run(spark, pipeline.images_df(spark, fx.images), fx.reaches, grid,
                        fill_nodata=fill_nodata)


@pytest.fixture(scope="module")
def filled(spark, fx):
    return _run(spark, fx), numpy_oracle.run(fx)


@pytest.fixture(scope="module")
def unfilled(spark, fx):
    with pytest.MonkeyPatch.context() as mp:
        # the oracle with the temporal fill skipped: binarize only
        mp.setattr(fill, "fill_series", lambda v: np.asarray(v).copy())
        oracle = numpy_oracle.run(fx)
    return _run(spark, fx, fill_nodata=False), oracle


def _check_against_oracle(res, oracle, fx):
    assert kept_map(res)["scene0"] == oracle["kept_dates"]
    assert fx.dates[ALL_NODATA_DATE].isoformat() not in oracle["kept_dates"]

    got = res["metrics"].toPandas().drop(columns=["scene"])
    got = got.sort_values(["section", "date"]).reset_index(drop=True)
    exp = oracle["metrics"].sort_values(["section", "date"]).reset_index(drop=True)
    for col in ("date", "section", "npools"):
        assert got[col].tolist() == exp[col].tolist(), col
    for col in FLOAT_COLS:
        np.testing.assert_allclose(got[col].to_numpy(dtype=float), exp[col].to_numpy(dtype=float),
                                   rtol=1e-9, atol=1e-12, equal_nan=True, err_msg=col)

    pools = res["pools"].toPandas()
    pools = pools[pools["label"] > 0].sort_values(["ds", "section", "label"]).reset_index(drop=True)
    exp_pools = oracle["pools"]
    exp_pools = exp_pools[exp_pools["label"] > 0].sort_values(["date", "section", "label"])
    exp_pools = exp_pools.reset_index(drop=True)
    assert pools["ds"].tolist() == exp_pools["date"].tolist()
    assert pools[["section", "label"]].values.tolist() == exp_pools[["section", "label"]].values.tolist()
    for col in ("length_km", "width_km", "area_km2", "perimeter_km"):
        np.testing.assert_allclose(pools[col].to_numpy(dtype=float),
                                   exp_pools[col].to_numpy(dtype=float), rtol=1e-9, err_msg=col)

    # per-pixel persistence: the oracle's feat.mean over each clip
    got_pp = {(r.section, r.px, r.py): r.pp for r in res["persistence_px"].toPandas().itertuples()}
    exp_pp = {}
    for section, meta in oracle["feature_meta"].items():
        feat = np.where(meta["mask"][None] == 1, oracle["cube"][:, meta["rs"], meta["cs"]], 0)
        pp = feat.mean(axis=0)
        for y, x in zip(*np.nonzero(pp)):
            exp_pp[(section, int(x + meta["cs"].start), int(y + meta["rs"].start))] = pp[y, x]
    assert got_pp.keys() == exp_pp.keys()
    assert all(got_pp[k] == pytest.approx(v, rel=1e-12) for k, v in exp_pp.items())
    return got, got_pp


def test_edges_match_the_oracle(filled, fx):
    res, oracle = filled
    got, got_pp = _check_against_oracle(res, oracle, fx)
    # the fixture covers what it claims
    shared = {(x, y) for s, x, y in got_pp if s == "a"} & {(x, y) for s, x, y in got_pp if s == "b"}
    assert shared
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    for section in ("a", "b"):
        c0, _, ncols, _ = morphology.clip_offsets(fx.reaches, grid)[section]
        wet_cols = {x for s, x, _ in got_pp if s == section}
        assert {c0, c0 + ncols - 1} <= wet_cols  # water on both clip edges
    for dry in ("c", "d"):
        rows = got[got["section"] == dry]
        assert len(rows) == len(oracle["kept_dates"])
        assert (rows["npools"] == 0).all() and (rows["wet_area_km2"] == 0).all()
        assert not any(s == dry for s, _, _ in got_pp)


def test_fill_nodata_false_matches_the_unfilled_oracle(unfilled, filled, fx):
    res, oracle = unfilled
    _check_against_oracle(res, oracle, fx)
    # the fillable nodata of date 2 stays dry without the fill
    def wet_a(r):
        m = r["metrics"].toPandas().set_index(["section", "date"])["wet_area_km2"]
        return m[("a", fx.dates[2].isoformat())]

    assert wet_a(res) < wet_a(filled[0])

