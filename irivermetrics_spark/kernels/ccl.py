"""Connected-component labeling (8-connectivity) + small-object removal.

Reproduces the semantics of scipy.ndimage.label(structure=ones(3,3))
followed by skimage remove_small_objects(min_size) as used by the
reference (src/utils/calc_metrics.py:669-674): labels are assigned in
row-major scan order of each component's first pixel, and components
with pixel count < min_size (strictly) are removed. Labels keep their
original numbers after removal (gaps allowed), exactly like the
reference — the positional re-labeling happens later in the
area/perimeter step.

Implementation: whole-array numpy over horizontal runs. The clip is cut
into row runs, runs in adjacent rows that touch under 8-connectivity
become edges (two ``searchsorted`` calls over all runs), and the run
graph is resolved by parallel hooking + pointer jumping. Every root is
the smallest run index of its component, i.e. its first run in scan
order, so ranking the roots gives the scan-order labels directly. This
runs per (section, time) group inside applyInPandas on arrays a few
hundred pixels across — the per-group grain the reference itself uses.
"""

from __future__ import annotations

import numpy as np


def _run_components(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Root (smallest member) of every node of the graph with edges a-b."""
    parent = np.arange(n)
    while True:
        pa, pb = parent[a], parent[b]
        split = pa != pb
        if not split.any():
            return parent
        # hook every root under the smallest root it shares an edge with
        # (a plain assignment keeps one arbitrary write per root, which
        # lets a comb take one round per tooth); parent[x] <= x always
        # holds, so no cycle can form
        np.minimum.at(parent, np.maximum(pa, pb)[split], np.minimum(pa, pb)[split])
        while True:  # pointer jumping back to a forest of stars
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand


def label8(img: np.ndarray) -> tuple[np.ndarray, int]:
    """Label 8-connected nonzero regions; returns (labels int32, n)."""
    fg = np.asarray(img) != 0
    h, w = fg.shape
    labels = np.zeros((h, w), dtype=np.int32)
    pad = np.zeros((h, w + 2), dtype=np.int8)
    pad[:, 1:-1] = fg
    edge = np.diff(pad, axis=1)
    # runs [rs, re) per row, in row-major order of their first pixel
    ry, rs = np.nonzero(edge == 1)
    re = np.nonzero(edge == -1)[1]
    n_runs = rs.size
    if n_runs == 0:
        return labels, 0
    # run a (row y) touches run b (row y+1) iff s_b <= e_a and s_a <= e_b;
    # keys are row * stride + column, so one sorted search covers all rows
    stride = w + 2
    below = (ry + 1) * stride
    lo = np.searchsorted(ry * stride + re, below + rs, side="left")
    hi = np.searchsorted(ry * stride + rs, below + re, side="right")
    cnt = np.maximum(hi - lo, 0)
    a = np.repeat(np.arange(n_runs), cnt)
    b = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt) + np.arange(a.size)
    root = _run_components(n_runs, a, b)
    is_root = root == np.arange(n_runs)
    run_label = np.cumsum(is_root, dtype=np.int32)[root]
    labels.ravel()[np.flatnonzero(fg)] = np.repeat(run_label, re - rs)
    return labels, int(is_root.sum())


def remove_small(labels: np.ndarray, min_size: int) -> np.ndarray:
    """Zero out components with size < min_size; keep original numbers.

    Matches skimage.morphology.remove_small_objects on a labeled array
    (strict <, reference default min_pool_size=2 kills only 1-px pools;
    quirk ledger SURVEY.md §7.3.7).
    """
    if labels.max() == 0:
        return labels
    counts = np.bincount(labels.ravel())
    kill = counts < min_size
    kill[0] = False
    out = labels.copy()
    out[kill[labels]] = 0
    return out


def label_sizes(labels: np.ndarray) -> dict[int, int]:
    counts = np.bincount(labels.ravel())
    return {i: int(c) for i, c in enumerate(counts) if i > 0 and c > 0}
