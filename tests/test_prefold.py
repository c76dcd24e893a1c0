"""The section kernel's pre-folded rows against the Spark SQL aggregates
they replaced (tests/fold_oracle.py), bit for bit: the fold's nine sums
per (scene, ds, section) and the per-section persistence summary, on
pool and pixel rows that crossed the same Arrow boundary as the
kernel's."""

import struct

import numpy as np
import pandas as pd
import pytest

import fold_oracle
from irivermetrics_spark import synth
from irivermetrics_spark.operators import metrics, morphology
from irivermetrics_spark.plans import pipeline

PS = 30.0
NAN = float("nan")


def _bits(row) -> tuple:
    """A row with every double as its IEEE bytes (NaN as one token)."""
    return tuple("nan" if isinstance(v, float) and v != v
                 else struct.pack(">d", v) if isinstance(v, float) else v for v in row)


def _same_rows(got, want) -> None:
    assert sorted(map(_bits, got)) == sorted(map(_bits, want))
    assert len(got) > 0


def _pool(label, area, length, width, perim) -> dict:
    return dict(label=label, length_km=length, width_km=width, area_km2=area,
                perimeter_km=perim, centroid_x=NAN, centroid_y=NAN, path_py=[], path_px=[])


def _built_pool_groups() -> dict:
    """(scene, section) -> {ds: pool rows} covering the fold's edge cases."""
    rng = np.random.default_rng(17)
    many = [_pool(i + 1, float(a), float(ln), float(w), float(p))
            for i, (a, ln, w, p) in enumerate(rng.uniform(1e-4, 3.0, (60, 4)))]
    return {
        ("s0", "a"): {
            # several pools on one date, areas spanning magnitudes
            "2020-01-01": [_pool(1, 0.0009, 0.03, 0.06, 0.12), _pool(2, 0.0243, 0.51, 0.09, 0.9),
                           _pool(3, 1.7e-3, 0.06, 0.03, 0.2)],
            # the zero-pool date: one label-0 row of zeros
            "2020-01-02": [_pool(0, 0.0, 0.0, 0.0, 0.0)],
            # a skeleton component without an area row (positional merge)
            "2020-01-03": [_pool(1, 0.0036, 0.09, 0.06, 0.24), _pool(2, NAN, 0.03, 0.06, NAN)],
            "2020-01-04": [_pool(1, NAN, 0.03, 0.06, NAN)],
            # a pool whose path is empty: NaN width under a positive area
            "2020-01-05": [_pool(1, 0.0018, 0.03, NAN, 0.18), _pool(2, 0.0045, 0.12, 0.06, 0.3)],
        },
        # sixty pools: the left-to-right order of the sum shows
        ("s0", "b"): {"2020-01-01": many},
        ("s1", "a"): {"2020-01-01": many[::-1]},
    }


def _pool_frames(spark, groups):
    """The built pools and their kernel SUMS rows, out of one grouped
    map per (scene, section) as in morphology.section_rows."""
    schema = f"kind tinyint, {morphology.POOLS_SCHEMA}, {morphology.SUMS_SCHEMA}"
    keys = spark.createDataFrame(list(groups), "scene string, section string")

    def kernel(key, pdf):
        scene, section = key
        pools, sums = [], []
        for ds, recs in groups[(scene, section)].items():
            recs = [dict(scene=scene, ds=ds, section=section, **r) for r in recs]
            pools.extend(recs)
            sums.append(dict(kind=morphology.SUMS, scene=scene, ds=ds, section=section,
                             path_py=None, path_px=None, **morphology.fold_sums(recs)))
        out = pd.concat([pd.DataFrame(pools).assign(kind=morphology.POOL), pd.DataFrame(sums)],
                        ignore_index=True)
        return out[[c.split(" ", 1)[0] for c in schema.split(", ")]]

    out = keys.groupBy("scene", "section").applyInPandas(kernel, schema).persist()
    pools = out.filter(f"kind = {morphology.POOL}").select(*morphology.POOLS_COLUMNS)
    sums = out.filter(f"kind = {morphology.SUMS}").select("scene", "ds", "section",
                                                          *morphology.SUMS_COLUMNS)
    return pools, sums


def test_kernel_sums_match_the_sql_pool_aggregate(spark):
    pools, sums = _pool_frames(spark, _built_pool_groups())
    want = fold_oracle.pool_sums(pools).select(*sums.columns).collect()
    _same_rows(sums.collect(), want)
    # the NaN area crossed as NULL: that date's sums ignore the row
    only_nan = [r for r in want if r["ds"] == "2020-01-04"][0]
    assert only_nan["n_rows"] == 1 and only_nan["sum_area"] == 0.0


def test_kernel_sums_are_not_pairwise():
    """The sixty-pool dates sum in row order: numpy's pairwise np.sum
    of the same terms differs in the last bits for at least one sum."""
    recs = _built_pool_groups()[("s0", "b")]["2020-01-01"]
    got = morphology.fold_sums(recs)
    areas = np.array([r["area_km2"] for r in recs])
    terms = {"sum_area": areas, "awmpa_num": areas * areas,
             "awmpl_num": np.array([r["length_km"] for r in recs]) * areas}
    assert any(got[k] != float(np.sum(v)) for k, v in terms.items())
    assert all(got[k] == float(np.cumsum(v)[-1]) for k, v in terms.items())


def test_zero_length_under_a_positive_area_fails_loudly(spark):
    """ANSI Spark raises DIVIDE_BY_ZERO in the AWRe term; the kernel
    raises too instead of emitting a sum."""
    bad = {("s0", "a"): {"2020-01-01": [_pool(1, 0.0009, 0.0, 0.06, 0.12)]}}
    with pytest.raises(ZeroDivisionError):
        morphology.fold_sums([bad[("s0", "a")]["2020-01-01"][0]])
    good = {("s0", "a"): {"2020-01-01": [_pool(1, 0.0009, 0.03, 0.06, 0.12)]}}
    pools, _ = _pool_frames(spark, good)
    zero_len = pools.selectExpr(*[c if c != "length_km" else "0.0D AS length_km"
                                  for c in pools.columns])
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        fold_oracle.pool_sums(zero_len).collect()
    with pytest.raises(Exception, match="division by zero"):
        _pool_frames(spark, bad)[1].collect()


def test_kernel_persistence_matches_the_sql_aggregate_on_the_bars(spark):
    """pp = wet / n_kept lands exactly on 0.1 and 0.9 for n_kept = 10:
    neither bar counts. A section whose pixels all sit at or below 0.1
    has a NULL pp_mean and a zero ra_area."""
    rng = np.random.default_rng(3)
    wets = {("s0", "a"): (np.arange(1, 11), 10),  # every k/10, both bars
            ("s0", "b"): (np.array([1, 1, 1]), 10),  # all on the 0.1 bar
            ("s0", "c"): (np.array([9, 9, 10]), 10),
            ("s1", "a"): (rng.integers(1, 64, 2000), 63),
            ("s1", "b"): (rng.integers(1, 8, 500), 7)}
    schema = ("kind tinyint, scene string, section string, px int, py int, wet long, "
              "pp double, pp_mean double, ra_area double")
    keys = spark.createDataFrame(list(wets), "scene string, section string")

    def kernel(key, pdf):
        scene, section = key
        wet, n_kept = wets[(scene, section)]
        pp = wet / n_kept
        px = pd.DataFrame({"kind": morphology.PIXEL, "scene": scene, "section": section,
                           "px": np.arange(wet.size, dtype=np.int32), "py": 0, "wet": wet,
                           "pp": pp})
        summary = dict(kind=morphology.PERSISTENCE, scene=scene, section=section,
                       **morphology.persistence_summary(pp, PS))
        out = pd.concat([px, pd.DataFrame([summary])], ignore_index=True)
        return out[[c.split(" ", 1)[0] for c in schema.split(", ")]]

    out = keys.groupBy("scene", "section").applyInPandas(kernel, schema).persist()
    pixels = out.filter(f"kind = {morphology.PIXEL}")
    got = out.filter(f"kind = {morphology.PERSISTENCE}").select("scene", "section", "pp_mean",
                                                                 "ra_area").collect()
    want = fold_oracle.persistence(pixels, PS).collect()
    _same_rows(got, want)
    by = {(r["scene"], r["section"]): r for r in got}
    assert by[("s0", "b")]["pp_mean"] is None and by[("s0", "b")]["ra_area"] == 0.0
    # of 0.9, 0.9 and 1.0 only 1.0 is above the 0.9 bar
    assert by[("s0", "c")]["ra_area"] == 1.0 * (PS**2 / 1e6)


@pytest.mark.parametrize("fill_nodata", [True, False])
def test_pipeline_fold_equals_the_sql_oracle_fold(spark, fill_nodata):
    """The whole fold: the metrics table and the persistence rows equal
    the pre-change SQL aggregates over the pipeline's own pool and
    pixel rows."""
    fx = synth.make_fixture(w=80, h=40, n_dates=9, n_sections=3, n_scenes=2, seed=29)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    res = pipeline.run(spark, pipeline.images_df(spark, fx.images), fx.reaches, grid,
                       section_length=1.5, fill_nodata=fill_nodata)
    pers = fold_oracle.persistence(res["persistence_px"], grid["ps"])
    want = metrics.fold(fold_oracle.pool_sums(res["pools"]),
                        metrics.dimension_grid(res["kept"], fx.reaches), pers,
                        section_length=1.5)
    got = res["metrics"].collect()
    _same_rows(got, want.collect())
    _same_rows(res["persistence"].collect(), pers.collect())
    assert any(r["npools"] > 1 for r in got)
