"""Exact Euclidean distance transform.

Reproduces scipy.ndimage.distance_transform_edt on a binary image
(reference: src/utils/calc_metrics.py:682-685): for each nonzero pixel,
the Euclidean distance to the nearest zero pixel; zero pixels get 0.

Separable and whole-array numpy. The first pass gives every pixel the
squared distance g to the nearest zero pixel in its own column (two
running max/min accumulations of zero-row indices). The second pass
takes the exact minimum of ``dx**2 + g(y, x + dx)`` by widening a window
one column per step; a pixel leaves the working set once its best value
is no larger than ``dx**2``, so the step count is the largest distance,
not the row length. Memory is O(h*w). The window runs along the shorter
axis. Squared distances are exact integers in float64, so the float32
result is the same as any other exact method's (scipy's or the
Felzenszwalb-Huttenlocher lower envelope).
"""

from __future__ import annotations

import numpy as np

# a clip with no zero pixel reports sqrt(_INF) = 1e9 everywhere: the
# value the lower-envelope form of this transform gives such a clip
_INF = 1e18


def edt(binary: np.ndarray, at: tuple[np.ndarray, np.ndarray] | None = None) -> np.ndarray:
    """Exact EDT: distance from nonzero pixels to nearest zero (float32).

    ``at``: optional (ys, xs) pixel indices; when given, only those
    pixels are evaluated and a 1-D array in the same order is returned.
    The values equal the full transform at those pixels.
    """
    fg = np.asarray(binary) != 0
    shape = fg.shape
    if at is None:
        ys, xs = np.indices(shape).reshape(2, -1)
    else:
        ys, xs = (np.asarray(a, dtype=np.intp) for a in at)
    if shape[0] < shape[1]:
        fg, ys, xs = fg.T, xs, ys
    h, w = fg.shape
    # pass 1: distance to the nearest zero pixel in the same column
    rows = np.arange(h, dtype=np.float64)[:, None]
    up = np.maximum.accumulate(np.where(fg, -np.inf, rows), axis=0)
    down = np.minimum.accumulate(np.where(fg, np.inf, rows)[::-1], axis=0)[::-1]
    col_sq = np.square(np.minimum(rows - up, down - rows))
    # pass 2: widen a horizontal window one column per step; a pixel is
    # final once its best squared distance is <= the window's dx**2
    best = col_sq[ys, xs]
    # with no zero pixel anywhere every distance stays at the sentinel
    live = np.flatnonzero(best > 0) if not fg.all() else np.empty(0, dtype=np.intp)
    for dx in range(1, w):
        live = live[best[live] > dx * dx]
        if live.size == 0:
            break
        ly, lx = ys[live], xs[live]
        for nx in (lx - dx, lx + dx):
            ok = (nx >= 0) & (nx < w)
            cand = col_sq[ly[ok], nx[ok]] + dx * dx
            best[live[ok]] = np.minimum(best[live[ok]], cand)
    out = np.sqrt(np.minimum(best, _INF)).astype(np.float32)
    return out.reshape(shape) if at is None else out
