"""From-scratch spatial cell indexes (H3-style hex, S2-style quadtree).

The sandbox has no h3/s2 libraries, and the engine's zonal join needs a
discrete-grid key to turn "point in polygon" into an equi-join. Two
families are provided, both pure vectorized numpy over planar
(projected-meter) coordinates:

- **hex** (H3-style): pointy-top hexagons in axial (q, r) coordinates,
  resolutions 7..11 with edge lengths halving per resolution. Supports
  point->cell, cell->center, k-ring neighborhoods, parent/child.
- **quad** (S2-style): Z-order (Morton) quadtree cells over a fixed
  world box, levels 0..26.

Cell ids pack (kind, res, q, r) into a signed int64 so they flow
through Spark as LongType join keys.

Replaces the reference's in-memory R-tree usage
(reference: src/utils/calc_metrics.py:380) with a shuffle-friendly,
broadcastable key: polygon cover sets are tiny; the raster side gets
its cell key computed inside the decode kernel.
"""

from __future__ import annotations

import numpy as np

# hex edge length in meters per resolution (halves per res, H3-ish spirit)
HEX_RES_MIN, HEX_RES_MAX = 7, 11
_BASE_EDGE = 1000.0  # res 7 edge = 1 km


def hex_edge(res: int) -> float:
    return _BASE_EDGE / (2.0 ** (res - HEX_RES_MIN))


_SQRT3 = np.sqrt(3.0)
_OFFSET = 1 << 26  # axial coords offset to stay non-negative in packing
_KIND_HEX = 0
_KIND_QUAD = 1


def _pack(kind: int, res: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Pack (kind[1b], res[5b], a[28b], b[28b]) -> int64."""
    return (
        (np.int64(kind) << 61)
        | (res.astype(np.int64) << 56)
        | ((a.astype(np.int64) + _OFFSET) << 28)
        | (b.astype(np.int64) + _OFFSET)
    )


def _unpack(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    kind = (cell >> 61) & np.int64(0x3)
    res = (cell >> 56) & np.int64(0x1F)
    a = ((cell >> 28) & np.int64((1 << 28) - 1)) - _OFFSET
    b = (cell & np.int64((1 << 28) - 1)) - _OFFSET
    return kind, res, a, b


def hex_cell(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """Planar meters -> hex cell id at `res` (vectorized).

    Pointy-top axial grid: x = s*sqrt(3)*(q + r/2), y = s*1.5*r.
    Fractional axial coords are cube-rounded to the nearest hex center.
    """
    s = hex_edge(res)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    qf = (_SQRT3 / 3.0 * x - y / 3.0) / s
    rf = (2.0 / 3.0 * y) / s
    q, r = _cube_round(qf, rf)
    return _pack(_KIND_HEX, np.full(q.shape, res, dtype=np.int64), q, r)


def _cube_round(qf: np.ndarray, rf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    sf = -qf - rf
    q = np.round(qf)
    r = np.round(rf)
    s = np.round(sf)
    dq = np.abs(q - qf)
    dr = np.abs(r - rf)
    ds = np.abs(s - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    q = np.where(fix_q, -r - s, q)
    r = np.where(fix_r, -q - s, r)
    return q.astype(np.int64), r.astype(np.int64)


def hex_center(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cell id -> planar center coordinates."""
    _, res, q, r = _unpack(cell)
    s = _BASE_EDGE / (2.0 ** (res.astype(np.float64) - HEX_RES_MIN))
    x = s * _SQRT3 * (q + r / 2.0)
    y = s * 1.5 * r
    return x, y


def hex_corners(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cell ids -> (N, 6) corner x and y arrays (pointy-top)."""
    cx, cy = hex_center(cell)
    _, res, _, _ = _unpack(cell)
    s = _BASE_EDGE / (2.0 ** (res.astype(np.float64) - HEX_RES_MIN))
    ang = np.deg2rad(np.arange(6) * 60.0 + 30.0)  # pointy-top
    x = cx[:, None] + s[:, None] * np.cos(ang)[None, :]
    y = cy[:, None] + s[:, None] * np.sin(ang)[None, :]
    return x, y


def hex_kring(cell: np.ndarray, k: int) -> np.ndarray:
    """All cells within hex distance k of each input cell.

    Returns shape (N, n_ring) where n_ring = 3k(k+1)+1, same resolution.
    Used for kNN candidate expansion (reference analog: sindex-based
    nearest lookup, dev/catch_utils.py:585-644).
    """
    kind, res, q, r = _unpack(np.atleast_1d(cell))
    offs = _kring_offsets(k)
    qq = q[:, None] + offs[:, 0][None, :]
    rr = r[:, None] + offs[:, 1][None, :]
    rese = np.broadcast_to(res[:, None], qq.shape)
    return _pack(_KIND_HEX, rese, qq, rr)


def _kring_offsets(k: int) -> np.ndarray:
    out = []
    for dq in range(-k, k + 1):
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1):
            out.append((dq, dr))
    return np.asarray(out, dtype=np.int64)


def hex_distance(cell_a: np.ndarray, cell_b: np.ndarray) -> np.ndarray:
    """Hex grid distance between same-resolution cells."""
    _, _, qa, ra = _unpack(cell_a)
    _, _, qb, rb = _unpack(cell_b)
    dq = qa - qb
    dr = ra - rb
    return (np.abs(dq) + np.abs(dr) + np.abs(dq + dr)) // 2


def quad_cell(x: np.ndarray, y: np.ndarray, level: int,
              x0: float = -2.0e7, y0: float = -2.0e7, extent: float = 4.0e7) -> np.ndarray:
    """S2-style Morton quadtree cell over a fixed world box (vectorized)."""
    n = 1 << level
    xi = np.clip(((np.asarray(x, dtype=np.float64) - x0) / extent * n).astype(np.int64), 0, n - 1)
    yi = np.clip(((np.asarray(y, dtype=np.float64) - y0) / extent * n).astype(np.int64), 0, n - 1)
    return (
        (np.int64(_KIND_QUAD) << 61)
        | (np.int64(level) << 56)
        | _morton(xi, yi)
    )


def quad_parent(cell: np.ndarray, parent_level: int) -> np.ndarray:
    cell = np.asarray(cell, dtype=np.int64)
    level = (cell >> 56) & np.int64(0x1F)
    code = cell & np.int64((1 << 56) - 1)
    shift = 2 * (level - parent_level)
    return (
        (np.int64(_KIND_QUAD) << 61)
        | (np.int64(parent_level) << 56)
        | (code >> shift)
    )


def _morton(xi: np.ndarray, yi: np.ndarray) -> np.ndarray:
    """Interleave bits of two int64 arrays (<=28 bits each)."""
    def spread(v: np.ndarray) -> np.ndarray:
        v = v.astype(np.uint64)
        v = (v | (v << 16)) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v << 8)) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v << 4)) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v << 2)) & np.uint64(0x3333333333333333)
        v = (v | (v << 1)) & np.uint64(0x5555555555555555)
        return v
    return (spread(xi) | (spread(yi) << 1)).astype(np.int64)
