"""Test-only oracles: the per-pixel loop versions of ``kernels.ccl.label8``
and ``kernels.edt.edt``.

These are the original scan-order union-find labeling and the
Felzenszwalb-Huttenlocher lower-envelope EDT, one Python iteration per
pixel. The package kernels are whole-array numpy and must reproduce
these outputs bit for bit (same labels, same float32 distances);
``tests/test_morphology_kernels.py`` checks that. Nothing in the
package imports this module.
"""

from __future__ import annotations

import numpy as np

_INF = 1e18


def label8_loop(img: np.ndarray) -> tuple[np.ndarray, int]:
    """Label 8-connected nonzero regions; returns (labels int32, n)."""
    img = np.asarray(img) != 0
    h, w = img.shape
    labels = np.zeros((h, w), dtype=np.int32)
    parent = [0]  # union-find; parent[0] unused

    def find(a: int) -> int:
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:
            parent[a], a = root, parent[a]
        return root

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb

    next_label = 1
    for y in range(h):
        row = img[y]
        xs = np.nonzero(row)[0]
        for x in xs:
            # neighbors already scanned: W, NW, N, NE
            cand = []
            if x > 0 and labels[y, x - 1]:
                cand.append(labels[y, x - 1])
            if y > 0:
                if x > 0 and labels[y - 1, x - 1]:
                    cand.append(labels[y - 1, x - 1])
                if labels[y - 1, x]:
                    cand.append(labels[y - 1, x])
                if x + 1 < w and labels[y - 1, x + 1]:
                    cand.append(labels[y - 1, x + 1])
            if not cand:
                labels[y, x] = next_label
                parent.append(next_label)
                next_label += 1
            else:
                m = min(find(c) for c in cand)
                labels[y, x] = m
                for c in cand:
                    union(m, c)

    if next_label == 1:
        return labels, 0
    # resolve + renumber roots in scan order of first appearance
    roots = np.asarray([find(i) for i in range(next_label)], dtype=np.int32)
    flat = labels.ravel()
    nz = flat != 0
    resolved = roots[flat[nz]]
    first_seen = {}
    order = []
    for r in resolved:
        if r not in first_seen:
            first_seen[r] = len(order) + 1
            order.append(r)
    remap = np.zeros(next_label, dtype=np.int32)
    for r, newl in first_seen.items():
        remap[r] = newl
    flat[nz] = remap[resolved]
    return labels, len(order)


def _dt1d_sq(f: np.ndarray) -> np.ndarray:
    """1-D squared distance transform of sampled function f (lower envelope)."""
    n = f.shape[0]
    d = np.empty(n, dtype=np.float64)
    v = np.empty(n, dtype=np.int64)
    z = np.empty(n + 1, dtype=np.float64)
    k = 0
    v[0] = 0
    z[0] = -_INF
    z[1] = _INF
    for q in range(1, n):
        s = ((f[q] + q * q) - (f[v[k]] + v[k] * v[k])) / (2.0 * q - 2.0 * v[k])
        while s <= z[k]:
            k -= 1
            s = ((f[q] + q * q) - (f[v[k]] + v[k] * v[k])) / (2.0 * q - 2.0 * v[k])
        k += 1
        v[k] = q
        z[k] = s
        z[k + 1] = _INF
    k = 0
    for q in range(n):
        while z[k + 1] < q:
            k += 1
        d[q] = (q - v[k]) ** 2 + f[v[k]]
    return d


def edt_loop(binary: np.ndarray) -> np.ndarray:
    """Exact EDT: distance from nonzero pixels to nearest zero (float32)."""
    fg = np.asarray(binary) != 0
    h, w = fg.shape
    # squared distance along columns first
    f = np.where(fg, _INF, 0.0)
    d = np.empty((h, w), dtype=np.float64)
    for x in range(w):
        col = f[:, x]
        if (col == 0.0).all():
            d[:, x] = 0.0
        else:
            d[:, x] = _dt1d_sq(col)
    out = np.empty((h, w), dtype=np.float64)
    for y in range(h):
        out[y, :] = _dt1d_sq(d[y, :])
    return np.sqrt(out).astype(np.float32)
