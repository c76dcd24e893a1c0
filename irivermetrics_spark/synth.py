"""Deterministic synthetic fixtures: image table + river-reach polygons.

The reference's own input cube (tests/wmask_ts.nc) is a stripped large
blob, so inputs are synthesized (seed-fixed, pure numpy) with the shape
of the reference fixture: a 326x111 px grid at ~10 m pixels, tiepoint
(627279.486, 8000984.552) (reference: tests/Pixel_Persistence.tif
tags), 63 semi-monthly dates, 7 river-section polygons
(tests/rcor_extent.*). See FIXTURES.md.

Content design: a meandering channel whose wetted width breathes with a
seasonal water level; narrow spots disconnect at low levels, producing
pools; off-channel ponds add isolated pools; seeded cloud blobs create
nodata (-1) speckle, including full-cover dates to exercise the >= 70 %
validity filter and the +-2 temporal fill.

The generator emits BOTH the underlying truth mask cube (for the numpy
oracle) and the encoded image table (image_id, bytes, w, h, fmt,
caption, phash) that the Spark engine consumes; the water kernel
recovers the truth mask exactly from the encoded bands (tested).

Multi-scene scaling: `n_scenes > 1` replicates the grid with
independent content per scene (image_id prefix "scene{k}") — the bench
path; polygons are shared planar geometry, metrics key on
(scene, section).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import date, timedelta

import numpy as np
import pandas as pd

from . import codecs
from .functions import geometry

PIXEL_SIZE = 9.999401981612094
GX0 = 627279.486
GY0 = 8000984.552
FIXTURE_W, FIXTURE_H = 326, 111


def semimonthly_dates(n: int, start: date = date(2018, 1, 1)) -> list[date]:
    out = []
    d = start
    while len(out) < n:
        out.append(d)
        if d.day == 1:
            d = d.replace(day=16)
        else:
            nxt = (d.replace(day=1) + timedelta(days=32)).replace(day=1)
            d = nxt
    return out


@dataclass
class Fixture:
    w: int
    h: int
    dates: list[date]
    masks: np.ndarray                 # (n_scenes, n_t, h, w) int8 {1,0,-1}
    reaches: list[dict]               # section, ring_x, ring_y, area_m2, bbox
    n_scenes: int = 1
    pixel_size: float = PIXEL_SIZE
    gx0: float = GX0
    gy0: float = GY0
    images: pd.DataFrame | None = field(default=None, repr=False)

    def px_x(self, px: np.ndarray) -> np.ndarray:
        return self.gx0 + (np.asarray(px, dtype=np.float64) + 0.5) * self.pixel_size

    def px_y(self, py: np.ndarray) -> np.ndarray:
        return self.gy0 - (np.asarray(py, dtype=np.float64) + 0.5) * self.pixel_size


def make_fixture(
    w: int = FIXTURE_W,
    h: int = FIXTURE_H,
    n_dates: int = 63,
    n_sections: int = 7,
    n_scenes: int = 1,
    seed: int = 42,
    encode: bool = True,
) -> Fixture:
    rng = np.random.default_rng(seed)
    dates = semimonthly_dates(n_dates)
    t = np.arange(n_dates, dtype=np.float64)

    px = np.arange(w, dtype=np.float64)
    py = np.arange(h, dtype=np.float64)
    X, Y = np.meshgrid(px, py)  # (h, w)

    all_masks = np.empty((n_scenes, n_dates, h, w), dtype=np.int8)
    for scene in range(n_scenes):
        srng = np.random.default_rng(seed + 1000 * scene)
        # meandering centerline + width profile with pinch points
        amp = h * 0.18
        lam = w / (2.0 + srng.uniform(0, 1.5))
        phase = srng.uniform(0, 2 * np.pi)
        yc = h / 2.0 + amp * np.sin(2 * np.pi * px / lam + phase)
        base_hw = 2.5 + 1.5 * np.cos(2 * np.pi * px / (w / 5.0) + srng.uniform(0, 6))
        pinch = 1.0 + 0.8 * np.sin(2 * np.pi * px / (w / 11.0) + srng.uniform(0, 6))
        halfw = np.maximum(0.4, base_hw * pinch)  # per-column half width, px

        # seasonal level: annual cycle + slow drought trend + jitter
        level = 0.75 + 0.55 * np.sin(2 * np.pi * t / 24.0 + 0.3) - 0.1 * (t / max(1, n_dates)) \
            + srng.normal(0, 0.05, n_dates)

        # off-channel ponds: fixed ellipses with a persistence threshold
        ponds = []
        for _ in range(max(3, (w * h) // 4000)):
            cx = srng.uniform(w * 0.05, w * 0.95)
            cy = srng.uniform(h * 0.1, h * 0.9)
            rx_ = srng.uniform(1.5, 4.0)
            ry_ = srng.uniform(1.2, 3.0)
            thr = srng.uniform(0.3, 1.0)  # pond wet iff level >= thr
            ponds.append((cx, cy, rx_, ry_, thr))

        masks = np.zeros((n_dates, h, w), dtype=np.int8)
        for i in range(n_dates):
            wet = np.abs(Y - yc[None, :]) <= (halfw[None, :] * max(0.05, level[i]))
            for cx, cy, rx_, ry_, thr in ponds:
                if level[i] >= thr:
                    wet |= ((X - cx) / rx_) ** 2 + ((Y - cy) / ry_) ** 2 <= 1.0
            masks[i][wet] = 1

        # nodata clouds: a few blobs per date; some dates mostly covered
        for i in range(n_dates):
            u = srng.uniform()
            if u < 0.08:
                # heavy cloud date: big band of nodata (should fail 70 %)
                x0 = srng.uniform(0, w * 0.3)
                masks[i][:, int(x0) :] = -1
            n_blobs = srng.integers(0, 4)
            for _ in range(n_blobs):
                cx = srng.uniform(0, w)
                cy = srng.uniform(0, h)
                r = srng.uniform(2, 9)
                blob = (X - cx) ** 2 + (Y - cy) ** 2 <= r * r
                masks[i][blob] = -1
        all_masks[scene] = masks

    # ----- reach polygons: buffered channel segments of scene 0 -----
    # polygons depend only on the grid, shared across scenes
    srng0 = np.random.default_rng(seed + 0)
    amp = h * 0.18
    lam = w / (2.0 + srng0.uniform(0, 1.5))
    phase = srng0.uniform(0, 2 * np.pi)
    ps = PIXEL_SIZE
    buffer_px = max(6.0, h * 0.22)
    seg_edges = np.linspace(0, w, n_sections + 1)
    reaches = []
    for s in range(n_sections):
        x_lo, x_hi = seg_edges[s], seg_edges[s + 1]
        xs = np.linspace(x_lo + 0.173, x_hi - 0.173, 12)
        ycs = h / 2.0 + amp * np.sin(2 * np.pi * xs / lam + phase)
        up_y = ycs - buffer_px
        dn_y = ycs + buffer_px
        ring_px = np.concatenate([xs, xs[::-1], xs[:1]])
        ring_py = np.concatenate([up_y, dn_y[::-1], up_y[:1]])
        ring_x = GX0 + ring_px * ps
        ring_y = GY0 - ring_py * ps
        area = geometry.polygon_area_m2(ring_x[:-1], ring_y[:-1])
        reaches.append(
            dict(
                section=str(s),
                ring_x=ring_x,
                ring_y=ring_y,
                area_m2=area,
                xmin=float(ring_x.min()),
                xmax=float(ring_x.max()),
                ymin=float(ring_y.min()),
                ymax=float(ring_y.max()),
            )
        )

    fx = Fixture(w=w, h=h, dates=dates, masks=all_masks, reaches=reaches, n_scenes=n_scenes)
    if encode:
        fx.images = encode_images(fx, seed)
    return fx


def bands_for_mask(mask: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    """Reflectance (4, h, w) uint16 whose NDWI threshold reproduces mask.

    Margins are wide enough that qlossy 8-bit quantization (error
    <= max/510 in reflectance) can never flip the water rule, and
    NIR == 0 encodes nodata exactly under quantization.
    """
    h, w = mask.shape
    noise = rng.integers(0, 300, size=(4, h, w), dtype=np.uint16)
    bands = np.empty((4, h, w), dtype=np.uint16)
    water = mask == 1
    nodata = mask == -1
    # dry defaults
    bands[0] = 1500 + noise[0]              # Blue
    bands[1] = 2200 + noise[1]              # Green
    bands[2] = 2600 + noise[2]              # Red
    bands[3] = 5200 + noise[3]              # Nir  (NDWI < 0)
    # water: green high, NIR low -> NDWI > 0
    bands[1][water] = 6200 + noise[1][water]
    bands[3][water] = 1200 + noise[3][water]
    # nodata: NIR == 0 (the invalid rule)
    bands[3][nodata] = 0
    return bands


def encode_images(fx: Fixture, seed: int = 42) -> pd.DataFrame:
    rows = []
    for scene in range(fx.n_scenes):
        for i, d in enumerate(fx.dates):
            rng = np.random.default_rng(seed + 7 * i + 7777 * scene + 1)
            bands = bands_for_mask(fx.masks[scene, i], rng)
            fmt = codecs.FMT_RAW16 if i % 2 == 0 else codecs.FMT_QLOSSY
            buf = codecs.encode_image(bands, fmt)
            decoded = codecs.decode_image(buf)
            rows.append(
                dict(
                    image_id=f"scene{scene}_{d.isoformat()}",
                    bytes=buf,
                    w=fx.w,
                    h=fx.h,
                    fmt=fmt,
                    caption=f"river reach composite scene {scene}, {d.isoformat()}, grid {fx.w}x{fx.h}",
                    phash=codecs.phash64(decoded),
                )
            )
    return pd.DataFrame(rows)
