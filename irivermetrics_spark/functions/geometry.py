"""From-scratch planar/spherical geometry kernels (vectorized numpy).

These primitives back the engine's zonal join and polygon rasterization
semantics:

- ``point_in_polygon`` — crossing-number (ray-cast) test, vectorized
  over points; the exact refinement step of the cell-index join.
- ``segments_touch_squares`` — exact segment vs axis-aligned-square
  overlap; with center-PIP it reproduces GDAL-style
  ``all_touched=True`` rasterization used for per-feature masks
  (reference: src/utils/calc_metrics.py:638-653) — a pixel is burned
  iff its center lies inside the polygon OR any boundary segment
  touches its square.
- center-rule rasterization (pixel center inside polygon) reproduces
  the default rasterize used for the dissolved-corridor mask
  (reference: src/utils/calc_metrics.py:484-490).
- ``haversine_m`` — great-circle distance for the kNN re-rank.
- ``polygon_cover_hex`` — polygon -> (cell, is_full) cover set at a hex
  resolution: the broadcast side of the zonal equi-join.

Grid convention: pixel (px, py) covers the square
[gx0 + px*ps, gx0 + (px+1)*ps] x [gy0 - (py+1)*ps, gy0 - py*ps]
with center at (gx0 + (px+.5)*ps, gy0 - (py+.5)*ps) — north-up raster
with origin at the top-left corner, matching the reference fixture's
GeoTIFF tiepoint layout.
"""

from __future__ import annotations

import numpy as np

from . import cellindex


def coords_digest(pairs) -> str:
    """Content digest of a list of (x, y) coordinate-array pairs (rings
    or lines). Hashed on every call: an identity-keyed memo returned a
    stale digest after an in-place edit of the same list."""
    import hashlib

    h = hashlib.sha1()
    for x, y in pairs:
        h.update(np.ascontiguousarray(x, dtype=np.float64).tobytes())
        h.update(np.ascontiguousarray(y, dtype=np.float64).tobytes())
    return h.hexdigest()


def polygon_area_m2(ring_x: np.ndarray, ring_y: np.ndarray) -> float:
    """Shoelace area (absolute) of a closed or open ring.

    Coordinates are taken relative to the first vertex: on absolute UTM
    coordinates (~6e5 x 8e6 m) the cross terms are ~1e12 and cancel down
    to a ~1e4 m^2 area, which quantizes the result to ~1/64 m^2."""
    x = np.asarray(ring_x, dtype=np.float64)
    y = np.asarray(ring_y, dtype=np.float64)
    x, y = x - x[:1], y - y[:1]
    return float(0.5 * np.abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))))


def dist_to_polyline(px: np.ndarray, py: np.ndarray, line_x: np.ndarray,
                     line_y: np.ndarray) -> np.ndarray:
    """Min euclidean distance from each point to a polyline (vectorized
    points x segments; segments are few, points are many). The geometry
    primitive behind the module-1 buffered-AOI clip
    (src/utils/wd_batch.py:425-447: shapely buffer + rio.clip)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    lx = np.asarray(line_x, dtype=np.float64)
    ly = np.asarray(line_y, dtype=np.float64)
    if lx.shape[0] == 1:
        return np.hypot(px - lx[0], py - ly[0])
    ax, ay = lx[:-1], ly[:-1]
    dx, dy = lx[1:] - ax, ly[1:] - ay
    seg_l2 = dx * dx + dy * dy
    rx = px[:, None] - ax[None, :]
    ry = py[:, None] - ay[None, :]
    t = rx * dx[None, :] + ry * dy[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(seg_l2[None, :] > 0, t / seg_l2[None, :], 0.0)
    t = np.clip(t, 0.0, 1.0)
    d2 = (rx - t * dx[None, :]) ** 2 + (ry - t * dy[None, :]) ** 2
    return np.sqrt(d2.min(axis=1))


def min_dist_to_polylines(px: np.ndarray, py: np.ndarray,
                          lines: list[tuple[np.ndarray, np.ndarray]]) -> np.ndarray:
    """Min distance over several polylines, chunked so the points x
    segments matrix stays bounded regardless of mask density."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.full(px.shape, np.inf)
    chunk = 65536
    for s in range(0, px.shape[0], chunk):
        sl = slice(s, s + chunk)
        for lx, ly in lines:
            out[sl] = np.minimum(out[sl], dist_to_polyline(px[sl], py[sl], lx, ly))
    return out


def point_in_polygon(px: np.ndarray, py: np.ndarray, ring_x: np.ndarray, ring_y: np.ndarray) -> np.ndarray:
    """Crossing-number PIP, vectorized over points (bool array).

    Half-open edge rule ((y1 > p) != (y2 > p)) gives deterministic
    results for points exactly at a vertex y; boundary points follow
    the crossing parity (synthetic data avoids degenerate on-edge
    centers by using non-integer polygon coordinates).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x1 = np.asarray(ring_x, dtype=np.float64)
    y1 = np.asarray(ring_y, dtype=np.float64)
    if x1[0] != x1[-1] or y1[0] != y1[-1]:
        x1 = np.append(x1, x1[0])
        y1 = np.append(y1, y1[0])
    xa, ya = x1[:-1], y1[:-1]
    xb, yb = x1[1:], y1[1:]
    inside = np.zeros(px.shape, dtype=bool)
    # loop over edges (few), vectorized over points (many)
    for i in range(xa.shape[0]):
        cond = (ya[i] > py) != (yb[i] > py)
        if not cond.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = xa[i] + (py - ya[i]) * (xb[i] - xa[i]) / (yb[i] - ya[i])
        inside ^= cond & (px < xint)
    return inside


def segments_touch_squares(
    sq_cx: np.ndarray,
    sq_cy: np.ndarray,
    half: float,
    ring_x: np.ndarray,
    ring_y: np.ndarray,
) -> np.ndarray:
    """True per square iff ANY polygon-boundary segment intersects the
    axis-aligned square centered at (sq_cx, sq_cy) with half-width
    ``half`` (closed square). Liang-Barsky style slab clipping,
    vectorized over squares, loop over edges.
    """
    cx = np.asarray(sq_cx, dtype=np.float64)
    cy = np.asarray(sq_cy, dtype=np.float64)
    x1 = np.asarray(ring_x, dtype=np.float64)
    y1 = np.asarray(ring_y, dtype=np.float64)
    if x1[0] != x1[-1] or y1[0] != y1[-1]:
        x1 = np.append(x1, x1[0])
        y1 = np.append(y1, y1[0])
    hit = np.zeros(cx.shape, dtype=bool)
    for i in range(x1.shape[0] - 1):
        ax, ay, bx, by = x1[i], y1[i], x1[i + 1], y1[i + 1]
        dx, dy = bx - ax, by - ay
        # slab param intervals for x and y, per square
        lo_x = cx - half - ax
        hi_x = cx + half - ax
        lo_y = cy - half - ay
        hi_y = cy + half - ay
        t0 = np.zeros_like(cx)
        t1 = np.ones_like(cx)
        ok = ~hit  # skip already-hit squares
        for d, lo, hi in ((dx, lo_x, hi_x), (dy, lo_y, hi_y)):
            if d == 0.0:
                ok &= (lo <= 0.0) & (hi >= 0.0)
            else:
                ta = lo / d
                tb = hi / d
                tmin = np.minimum(ta, tb)
                tmax = np.maximum(ta, tb)
                t0 = np.maximum(t0, tmin)
                t1 = np.minimum(t1, tmax)
        hit |= ok & (t0 <= t1)
    return hit


def rasterize_polygon(
    ring_x: np.ndarray,
    ring_y: np.ndarray,
    gx0: float,
    gy0: float,
    ps: float,
    w: int,
    h: int,
    all_touched: bool,
) -> np.ndarray:
    """Burn a polygon onto a (h, w) uint8 grid.

    all_touched=False: pixel burned iff its CENTER is inside (reference
    AOI/corridor rasterize). all_touched=True: additionally burn every
    pixel whose square is touched by a boundary segment (reference
    per-feature mask).
    """
    xs = gx0 + (np.arange(w, dtype=np.float64) + 0.5) * ps
    ys = gy0 - (np.arange(h, dtype=np.float64) + 0.5) * ps
    # bbox prefilter to keep work proportional to the polygon
    xmin, xmax = float(np.min(ring_x)) - ps, float(np.max(ring_x)) + ps
    ymin, ymax = float(np.min(ring_y)) - ps, float(np.max(ring_y)) + ps
    ci = np.nonzero((xs >= xmin) & (xs <= xmax))[0]
    ri = np.nonzero((ys >= ymin) & (ys <= ymax))[0]
    out = np.zeros((h, w), dtype=np.uint8)
    if ci.size == 0 or ri.size == 0:
        return out
    cxg, cyg = np.meshgrid(xs[ci], ys[ri])
    inside = point_in_polygon(cxg.ravel(), cyg.ravel(), ring_x, ring_y)
    if all_touched:
        inside |= segments_touch_squares(cxg.ravel(), cyg.ravel(), ps / 2.0, ring_x, ring_y)
    out[np.ix_(ri, ci)] = inside.reshape(ri.size, ci.size).astype(np.uint8)
    return out


# ---------------------------------------------------------------- kNN helpers

EARTH_R_M = 6371008.8


def haversine_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Great-circle distance in meters (vectorized, degrees in)."""
    lat1, lon1, lat2, lon2 = (np.radians(np.asarray(v, dtype=np.float64)) for v in (lat1, lon1, lat2, lon2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    a = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_R_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def planar_to_lonlat(x, y, lat0: float = -18.0, lon0: float = 120.0):
    """Map local planar meters to lon/lat around a reference point.

    Simple local tangent-plane inverse (meters per degree at lat0);
    adequate for km-scale fixtures and documented as the engine's
    planar->spherical bridge for the haversine re-rank.
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    m_per_deg_lat = np.pi * EARTH_R_M / 180.0
    m_per_deg_lon = m_per_deg_lat * np.cos(np.radians(lat0))
    return lon0 + x / m_per_deg_lon, lat0 + y / m_per_deg_lat


def lonlat_to_planar(lon, lat, lat0: float = -18.0, lon0: float = 120.0):
    """Exact inverse of ``planar_to_lonlat``: geographic degrees to the
    engine's local metric plane. This is the engine's analog of the
    reference's reproject-geographic-input-to-UTM step
    (src/utils/calc_metrics.py:343-348 estimate_utm_crs +
    xr_reproject): a local conformal-enough metric frame; a deployment
    with pyproj swaps a true projected CRS in at the same seam."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    m_per_deg_lat = np.pi * EARTH_R_M / 180.0
    m_per_deg_lon = m_per_deg_lat * np.cos(np.radians(lat0))
    return (lon - lon0) * m_per_deg_lon, (lat - lat0) * m_per_deg_lat


# --------------------------------------------------------- true UTM
# WGS84 transverse Mercator (Snyder 1987, "Map Projections — A Working
# Manual", eqs. 8-9..8-25): the reference reprojects geographic layers
# to an ESTIMATED UTM zone (src/utils/calc_metrics.py:343-348
# estimate_utm_crs); these are the real ellipsoidal formulas, so a
# lon/lat reach layer can land in the SAME frame as a UTM-georeferenced
# GeoTIFF scene — no proj library required.

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_E2 = _WGS84_F * (2.0 - _WGS84_F)
_EP2 = _E2 / (1.0 - _E2)
_K0 = 0.9996


def utm_zone(lon, lat) -> int:
    """Standard zone number from longitude (1..60)."""
    return int(np.clip((np.floor((np.mean(np.asarray(lon, dtype=np.float64)) + 180.0) / 6.0) + 1), 1, 60))


def lonlat_to_utm(lon, lat, zone: int | None = None) -> tuple[np.ndarray, np.ndarray, int]:
    """(easting, northing, zone) — WGS84 UTM, southern rows offset 1e7."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    if zone is None:
        zone = utm_zone(lon, lat)
    lam0 = np.radians((zone - 1) * 6.0 - 180.0 + 3.0)
    phi = np.radians(lat)
    lam = np.radians(lon)
    sin_p, cos_p, tan_p = np.sin(phi), np.cos(phi), np.tan(phi)
    N = _WGS84_A / np.sqrt(1.0 - _E2 * sin_p**2)
    T = tan_p**2
    C = _EP2 * cos_p**2
    A = (lam - lam0) * cos_p
    M = _WGS84_A * (
        (1 - _E2 / 4 - 3 * _E2**2 / 64 - 5 * _E2**3 / 256) * phi
        - (3 * _E2 / 8 + 3 * _E2**2 / 32 + 45 * _E2**3 / 1024) * np.sin(2 * phi)
        + (15 * _E2**2 / 256 + 45 * _E2**3 / 1024) * np.sin(4 * phi)
        - (35 * _E2**3 / 3072) * np.sin(6 * phi)
    )
    E = _K0 * N * (A + (1 - T + C) * A**3 / 6
                   + (5 - 18 * T + T**2 + 72 * C - 58 * _EP2) * A**5 / 120) + 500000.0
    Nrth = _K0 * (M + N * tan_p * (A**2 / 2
                                   + (5 - T + 9 * C + 4 * C**2) * A**4 / 24
                                   + (61 - 58 * T + T**2 + 600 * C - 330 * _EP2) * A**6 / 720))
    Nrth = np.where(lat < 0, Nrth + 10000000.0, Nrth)
    return E, Nrth, zone


def utm_to_lonlat(easting, northing, zone: int, south: bool) -> tuple[np.ndarray, np.ndarray]:
    """Inverse WGS84 UTM (Snyder eqs. 8-17..8-25, footpoint latitude)."""
    E = np.asarray(easting, dtype=np.float64) - 500000.0
    N = np.asarray(northing, dtype=np.float64) - (10000000.0 if south else 0.0)
    lam0 = np.radians((zone - 1) * 6.0 - 180.0 + 3.0)
    M = N / _K0
    e1 = (1 - np.sqrt(1 - _E2)) / (1 + np.sqrt(1 - _E2))
    mu = M / (_WGS84_A * (1 - _E2 / 4 - 3 * _E2**2 / 64 - 5 * _E2**3 / 256))
    phi1 = (mu
            + (3 * e1 / 2 - 27 * e1**3 / 32) * np.sin(2 * mu)
            + (21 * e1**2 / 16 - 55 * e1**4 / 32) * np.sin(4 * mu)
            + (151 * e1**3 / 96) * np.sin(6 * mu)
            + (1097 * e1**4 / 512) * np.sin(8 * mu))
    sin1, cos1, tan1 = np.sin(phi1), np.cos(phi1), np.tan(phi1)
    C1 = _EP2 * cos1**2
    T1 = tan1**2
    N1 = _WGS84_A / np.sqrt(1 - _E2 * sin1**2)
    R1 = _WGS84_A * (1 - _E2) / (1 - _E2 * sin1**2) ** 1.5
    D = E / (N1 * _K0)
    phi = phi1 - (N1 * tan1 / R1) * (
        D**2 / 2
        - (5 + 3 * T1 + 10 * C1 - 4 * C1**2 - 9 * _EP2) * D**4 / 24
        + (61 + 90 * T1 + 298 * C1 + 45 * T1**2 - 252 * _EP2 - 3 * C1**2) * D**6 / 720
    )
    lam = lam0 + (D - (1 + 2 * T1 + C1) * D**3 / 6
                  + (5 - 2 * C1 + 28 * T1 - 3 * C1**2 + 8 * _EP2 + 24 * T1**2) * D**5 / 120) / cos1
    return np.degrees(lam), np.degrees(phi)


def estimate_local_plane(lons, lats) -> tuple[float, float]:
    """(lat0, lon0) — the layer-extent midpoint, the engine's analog of
    the reference's UTM-zone estimation for geographic layers: pick the
    metric plane centered on the data so scale distortion stays
    negligible at corridor scale."""
    lons = np.asarray(lons, dtype=np.float64)
    lats = np.asarray(lats, dtype=np.float64)
    return (float(lats.min() + lats.max()) / 2.0,
            float(lons.min() + lons.max()) / 2.0)


# ------------------------------------------------------------- polygon cover

def polygon_cover_hex(ring_x: np.ndarray, ring_y: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Hex-cell cover of a polygon at resolution ``res``.

    Returns (cells, is_full): every cell that can contain an in-polygon
    or boundary-touched pixel; ``is_full`` marks cells whose pixels are
    all guaranteed inside (center + 6 corners inside, not a boundary
    cell) so the join can skip exact refinement for them.

    Boundary cells come from dense sampling of the ring edges at
    half-edge-length spacing, dilated by k-ring(1) so pixels merely
    *touched* by an edge (all_touched semantics) still find their cell
    in the cover.
    """
    rx = np.asarray(ring_x, dtype=np.float64)
    ry = np.asarray(ring_y, dtype=np.float64)
    if rx[0] != rx[-1] or ry[0] != ry[-1]:
        rx = np.append(rx, rx[0])
        ry = np.append(ry, ry[0])
    s = cellindex.hex_edge(res)
    # sample edges finer than half a cell edge
    pts_x, pts_y = [], []
    for i in range(rx.shape[0] - 1):
        seg = np.hypot(rx[i + 1] - rx[i], ry[i + 1] - ry[i])
        n = max(2, int(np.ceil(seg / (s * 0.5))) + 1)
        t = np.linspace(0.0, 1.0, n)
        pts_x.append(rx[i] + t * (rx[i + 1] - rx[i]))
        pts_y.append(ry[i] + t * (ry[i + 1] - ry[i]))
    edge_cells = np.unique(cellindex.hex_cell(np.concatenate(pts_x), np.concatenate(pts_y), res))
    boundary = np.unique(cellindex.hex_kring(edge_cells, 1).ravel())

    # interior candidates: cells whose center falls in the polygon bbox
    xmin, xmax = rx.min() - 2 * s, rx.max() + 2 * s
    ymin, ymax = ry.min() - 2 * s, ry.max() + 2 * s
    # generate candidate centers on the hex lattice covering the bbox
    r_lo = int(np.floor(ymin / (1.5 * s))) - 1
    r_hi = int(np.ceil(ymax / (1.5 * s))) + 1
    cand_q, cand_r = [], []
    sqrt3 = np.sqrt(3.0)
    for r in range(r_lo, r_hi + 1):
        # x = s*sqrt3*(q + r/2) in [xmin, xmax]
        q_lo = int(np.floor(xmin / (s * sqrt3) - r / 2.0)) - 1
        q_hi = int(np.ceil(xmax / (s * sqrt3) - r / 2.0)) + 1
        qs = np.arange(q_lo, q_hi + 1, dtype=np.int64)
        cand_q.append(qs)
        cand_r.append(np.full(qs.shape, r, dtype=np.int64))
    q = np.concatenate(cand_q)
    r = np.concatenate(cand_r)
    res_arr = np.full(q.shape, res, dtype=np.int64)
    cand = cellindex._pack(cellindex._KIND_HEX, res_arr, q, r)
    cx, cy = cellindex.hex_center(cand)
    center_in = point_in_polygon(cx, cy, rx, ry)
    interior = cand[center_in]

    cells = np.unique(np.concatenate([interior, boundary]))
    # full cells: center + all 6 corners inside, and not boundary-adjacent
    corner_x, corner_y = cellindex.hex_corners(cells)
    all_in = point_in_polygon(
        np.column_stack([cellindex.hex_center(cells)[0], corner_x]).ravel(),
        np.column_stack([cellindex.hex_center(cells)[1], corner_y]).ravel(),
        rx, ry,
    ).reshape(cells.shape[0], 7).all(axis=1)
    is_boundary = np.isin(cells, boundary)
    is_full = all_in & ~is_boundary
    return cells, is_full
