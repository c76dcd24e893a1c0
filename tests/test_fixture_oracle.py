"""Fixture generator + numpy-oracle sanity checks (small scale)."""

import numpy as np
import pytest

from irivermetrics_spark import codecs, synth
from irivermetrics_spark.kernels import water
from irivermetrics_spark.oracle import numpy_oracle

from fixture_codecs import psnr
from fixture_refs import reaches_df


@pytest.fixture(scope="module")
def fx():
    return synth.make_fixture(w=80, h=40, n_dates=12, n_sections=3, seed=42)


def test_images_decode_to_truth_masks(fx):
    """Per-row invariant: decoded pixels -> water rule == truth mask,
    PSNR >= 40 dB for lossy rows, caption equality."""
    for _, row in fx.images.iterrows():
        i = [d.isoformat() for d in fx.dates].index(row.image_id.split("_", 1)[1])
        decoded = codecs.decode_image(row.bytes)
        assert decoded.shape == (4, fx.h, fx.w)
        m = water.water_mask(decoded)
        assert np.array_equal(m, fx.masks[0, i])
        if row.fmt == codecs.FMT_QLOSSY:
            # re-encode truth bands and check psnr against decoded
            rng = np.random.default_rng(42 + 7 * i + 1)
            truth = synth.bands_for_mask(fx.masks[0, i], rng)
            assert psnr(truth, decoded) >= 40.0
        assert row.caption.startswith("river reach composite scene 0")


def test_fixture_has_interesting_content(fx):
    m = fx.masks[0]
    assert (m == 1).any() and (m == -1).any() and (m == 0).any()
    # per-date water varies (pools appear/disappear)
    wet = (m == 1).sum(axis=(1, 2))
    assert wet.min() < wet.max()


def test_reaches_cover_channel(fx):
    df = reaches_df(fx)
    assert len(df) == 3
    assert (df.area_m2 > 0).all()


def test_oracle_runs_and_shapes(fx):
    res = numpy_oracle.run(fx)
    n_dates = len(res["kept_dates"])
    assert 2 <= n_dates <= 12
    met = res["metrics"]
    assert len(met) == 3 * n_dates
    assert set(met.columns) == {
        "date", "section", "section_area_km2", "section_length_km", "npools",
        "wet_area_km2", "wet_length_km", "wet_perimeter_km", "AWMSI", "AWRe",
        "AWMPA", "AWMPL", "AWMPW", "PF", "PFL", "APSEC", "LPSEC",
        "pp_mean_%", "ra_area_km2",
    }
    assert met["npools"].dtype == np.int32
    assert (met["npools"] > 0).any()
    assert len(res["join_rows"]) > 0
    # water only inside corridor after preprocessing
    cube = res["cube"]
    assert cube[:, ~res["corridor"]].sum() == 0
