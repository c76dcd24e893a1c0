"""End-to-end parity: Spark pipeline vs the sequential numpy oracle.

The golden contract (BASELINE.md): exact join-row and tile-assignment
match, exact kept-date set, per-pool row parity, and metric values to
float tolerance (Spark's partial aggregation reorders float sums).
"""

import numpy as np
import pandas as pd
import pytest

from irivermetrics_spark import synth
from irivermetrics_spark.functions import cellindex
from irivermetrics_spark.oracle import numpy_oracle
from irivermetrics_spark.plans import pipeline
from tests.conftest import kept_map

W, H, NDATES, NSECTIONS = 80, 40, 12, 3


@pytest.fixture(scope="module")
def fx():
    return synth.make_fixture(w=W, h=H, n_dates=NDATES, n_sections=NSECTIONS, seed=42)


@pytest.fixture(scope="module")
def oracle(fx):
    return numpy_oracle.run(fx)


@pytest.fixture(scope="module")
def result(spark, fx):
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    images = pipeline.images_df(spark, fx.images)
    return pipeline.run(spark, images, fx.reaches, grid)


def test_kept_dates_match(result, oracle):
    assert kept_map(result).get("scene0", []) == oracle["kept_dates"]


def test_join_rows_exact(result, oracle):
    got = {
        (r["ds"], r["section"], r["px"], r["py"])
        for r in result["water_joined"].select("ds", "section", "px", "py").collect()
    }
    assert got == oracle["join_rows"]


def test_tile_assignment_exact(result, fx):
    rows = result["water_joined"].select("px", "py", "cell").distinct().collect()
    px = np.array([r["px"] for r in rows])
    py = np.array([r["py"] for r in rows])
    got = np.array([r["cell"] for r in rows])
    expect = cellindex.hex_cell(fx.px_x(px), fx.px_y(py), 9)
    assert np.array_equal(got, expect)


def test_persistence_match(result, oracle):
    got = {r["section"]: (r["pp_mean"], r["ra_area"]) for r in result["persistence"].collect()}
    for section, (pp_mean, ra_area) in oracle["persistence"].items():
        g = got.get(section)
        if np.isnan(pp_mean):
            assert g is None or g[0] is None or np.isnan(g[0])
        else:
            assert g[0] == pytest.approx(pp_mean, rel=1e-12)
            assert g[1] == pytest.approx(ra_area, rel=1e-12)


def test_pool_rows_match(result, oracle):
    got = result["pools"].toPandas().sort_values(["ds", "section", "label"]).reset_index(drop=True)
    exp = oracle["pools"].sort_values(["date", "section", "label"]).reset_index(drop=True)
    assert len(got) == len(exp)
    for col_g, col_e in [("ds", "date"), ("section", "section"), ("label", "label")]:
        assert got[col_g].tolist() == exp[col_e].tolist()
    for col in ["length_km", "width_km", "area_km2", "perimeter_km"]:
        np.testing.assert_allclose(got[col].to_numpy(dtype=float), exp[col].to_numpy(dtype=float),
                                   rtol=1e-9, equal_nan=True, err_msg=col)


def test_metrics_match(result, oracle):
    got = (
        result["metrics"].toPandas()
        .drop(columns=["scene"])
        .sort_values(["section", "date"])
        .reset_index(drop=True)
    )
    exp = oracle["metrics"].sort_values(["section", "date"]).reset_index(drop=True)
    assert got.shape[0] == exp.shape[0]
    assert got["date"].tolist() == exp["date"].tolist()
    assert got["section"].tolist() == exp["section"].tolist()
    assert got["npools"].tolist() == exp["npools"].tolist()
    for col in ["section_area_km2", "wet_area_km2", "wet_length_km", "wet_perimeter_km",
                "AWMSI", "AWRe", "AWMPA", "AWMPL", "AWMPW", "PF", "PFL", "APSEC",
                "LPSEC", "pp_mean_%", "ra_area_km2", "section_length_km"]:
        np.testing.assert_allclose(got[col].to_numpy(dtype=float), exp[col].to_numpy(dtype=float),
                                   rtol=1e-9, atol=1e-12, equal_nan=True, err_msg=col)
