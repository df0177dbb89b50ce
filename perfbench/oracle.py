"""Independent NumPy answers for every result the benchmark checks.

Nothing here calls the engine: windows and zones are convex CCW rings,
so containment is a set of half-plane tests, and extent predicates are
closed-interval bbox overlap.
"""

from __future__ import annotations

import numpy as np


def in_convex(x: np.ndarray, y: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Points inside or on a convex CCW ring (open: first vertex not repeated)."""
    inside = np.ones(len(x), dtype=bool)
    k = len(ring)
    for i in range(k):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % k]
        inside &= (bx - ax) * (y - ay) - (by - ay) * (x - ax) >= 0.0
    return inside


def in_box(x: np.ndarray, y: np.ndarray, box) -> np.ndarray:
    x0, y0, x1, y1 = box
    return (x >= x0) & (x <= x1) & (y >= y0) & (y <= y1)


def boxes_overlap(bounds: np.ndarray, box) -> np.ndarray:
    """Rows of an (n, 4) bounds array whose closed box meets ``box``."""
    x0, y0, x1, y1 = box
    return (bounds[:, 0] <= x1) & (bounds[:, 2] >= x0) & (bounds[:, 1] <= y1) & (bounds[:, 3] >= y0)


def count_sum(mask: np.ndarray, v: np.ndarray) -> tuple[int, int]:
    return int(mask.sum()), int(v[mask].sum())


def zone_counts(px: np.ndarray, py: np.ndarray, verts: np.ndarray, nv: np.ndarray, zid: np.ndarray) -> dict[int, int]:
    """Points per convex zone, zones with no point omitted (the SQL GROUP BY
    over an inner join has no row for them)."""
    order = np.argsort(px, kind="stable")
    sx, sy = px[order], py[order]
    out: dict[int, int] = {}
    for i in range(len(zid)):
        ring = verts[i, : nv[i]]
        lo = np.searchsorted(sx, ring[:, 0].min(), side="left")
        hi = np.searchsorted(sx, ring[:, 0].max(), side="right")
        x, y = sx[lo:hi], sy[lo:hi]
        sel = (y >= ring[:, 1].min()) & (y <= ring[:, 1].max())
        n = int(in_convex(x[sel], y[sel], ring).sum())
        if n:
            out[int(zid[i])] = n
    return out
