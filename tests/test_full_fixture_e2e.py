"""Full fixture-shape golden e2e (326x111 px, 63 dates, 7 sections —
the reference's own workload size, SURVEY.md §5/§6).

Slow (~5-10 min incl. the sequential numpy oracle); opt-in via
RUN_SLOW=1 so the default gate stays fast. Run before shipping a
round: `RUN_SLOW=1 python -m pytest tests/test_full_fixture_e2e.py -q`.
"""

import os

import numpy as np
import pytest

from irivermetrics_spark import synth
from irivermetrics_spark.oracle import numpy_oracle
from irivermetrics_spark.plans import pipeline
from tests.conftest import kept_map

pytestmark = pytest.mark.skipif(
    not os.environ.get("RUN_SLOW"), reason="full-fixture e2e is opt-in (RUN_SLOW=1)"
)


def test_full_fixture_parity(spark):
    fx = synth.make_fixture(w=326, h=111, n_dates=63, n_sections=7, seed=42)
    oracle = numpy_oracle.run(fx)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    res = pipeline.run(spark, pipeline.images_df(spark, fx.images), fx.reaches, grid)

    assert kept_map(res)["scene0"] == oracle["kept_dates"]

    got_rows = {
        (r["ds"], r["section"], r["px"], r["py"])
        for r in res["water_joined"].select("ds", "section", "px", "py").collect()
    }
    assert got_rows == oracle["join_rows"]

    got = (
        res["metrics"].toPandas().drop(columns=["scene"])
        .sort_values(["section", "date"]).reset_index(drop=True)
    )
    exp = oracle["metrics"].sort_values(["section", "date"]).reset_index(drop=True)
    assert got.shape[0] == exp.shape[0] == 7 * len(oracle["kept_dates"])
    assert got["npools"].tolist() == exp["npools"].tolist()
    for col in ["wet_area_km2", "wet_length_km", "wet_perimeter_km", "AWMSI", "AWRe",
                "AWMPA", "AWMPL", "AWMPW", "PF", "PFL", "APSEC", "pp_mean_%", "ra_area_km2"]:
        np.testing.assert_allclose(got[col].to_numpy(float), exp[col].to_numpy(float),
                                   rtol=1e-9, atol=1e-12, equal_nan=True, err_msg=col)
