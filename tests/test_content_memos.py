"""The per-worker raster memos key on the content of the rings or lines
they were built from: an in-place edit of the same list between two
calls gets the raster of the edited geometry, not the cached one."""

import copy

import numpy as np

from irivermetrics_spark.operators import decode, exports

GRID = dict(gx0=0.0, gy0=10.0, ps=1.0, h=10, w=10)


def test_corridor_bitmap_follows_in_place_ring_edits():
    rings = [(np.array([1.0, 4.0, 4.0, 1.0, 1.0]), np.array([1.0, 1.0, 4.0, 4.0, 1.0]))]
    g = GRID
    before = decode._corridor_bitmap(rings, g["gx0"], g["gy0"], g["ps"], g["h"], g["w"])
    rings[0][0][:] += 4.0  # shift the ring east, same list and arrays
    after = decode._corridor_bitmap(rings, g["gx0"], g["gy0"], g["ps"], g["h"], g["w"])
    fresh = decode._corridor_bitmap(copy.deepcopy(rings), g["gx0"], g["gy0"], g["ps"],
                                    g["h"], g["w"])
    assert before.any() and not np.array_equal(after, before)
    assert np.array_equal(after, fresh)


def test_aoi_raster_follows_in_place_line_edits():
    lines = [(np.array([0.0, 10.0]), np.array([2.0, 2.0]))]
    g = GRID
    before = exports._aoi_outside_raster(lines, 1.5, g["gx0"], g["gy0"], g["ps"], g["h"], g["w"])
    lines[0][1][:] = 8.0  # move the line north, same list and arrays
    after = exports._aoi_outside_raster(lines, 1.5, g["gx0"], g["gy0"], g["ps"], g["h"], g["w"])
    fresh = exports._aoi_outside_raster(copy.deepcopy(lines), 1.5, g["gx0"], g["gy0"], g["ps"],
                                        g["h"], g["w"])
    assert (~before).any() and not np.array_equal(after, before)
    assert np.array_equal(after, fresh)


def test_cover_cache_stays_bounded_over_many_layers(spark):
    """Each new reaches layer's corridor cover inserts two entries (the
    per-section cover and the dissolved one); the cache must evict on
    both inserts, not grow one entry past the cap per layer."""
    from irivermetrics_spark.operators import zonal

    ring_x = np.array([0.0, 400.0, 400.0, 0.0, 0.0])
    ring_y = np.array([0.0, 0.0, 400.0, 400.0, 0.0])
    for i in range(zonal._COVER_CACHE_CAP + 6):
        shift = 1000.0 * i
        reach = dict(section=f"s{i}", ring_x=ring_x + shift, ring_y=ring_y,
                     xmin=shift, xmax=shift + 400.0, ymin=0.0, ymax=400.0)
        zonal.corridor_cover_df(spark, [reach])
        assert len(zonal._COVER_CACHE) <= zonal._COVER_CACHE_CAP
