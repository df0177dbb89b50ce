"""Hilbert space-filling curve — the locality-optimal companion to the
Z2/Morton index (`geom/z2.py`): consecutive Hilbert keys are ALWAYS
4-adjacent cells (Morton jumps across half the map at quadrant
boundaries), so a rectangular window decomposes into fewer contiguous
key ranges → fewer parquet row-group ranges / object-store range
requests per window query. The trade is arithmetic cost: Morton is six
shift-mask ops, Hilbert is a per-bit rotation state machine.

The (x, y) → d transform is the standard iterative algorithm (per-bit
quadrant extraction + frame rotation; the form given in the public
literature on Hilbert curve conversion), vectorized in NumPy.
"""

from __future__ import annotations

import numpy as np

__all__ = ["hilbert_d", "hilbert_latlon"]


def hilbert_d(x: np.ndarray, y: np.ndarray, order: int) -> np.ndarray:
    """(x, y) grid ints in [0, 2^order) → Hilbert distance d."""
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(x)
    s = 1 << (order - 1)
    while s > 0:
        rx = ((x // s) % 2).astype(np.int64)
        ry = ((y // s) % 2).astype(np.int64)
        quad = np.where(
            (rx == 0) & (ry == 0), 0,
            np.where(rx == 0, 1, np.where(ry == 1, 2, 3)),
        )
        d += s * s * quad
        # rotate the frame for the next level: only when ry == 0
        flip = (ry == 0) & (rx == 1)
        nx = np.where(ry == 0, np.where(flip, s - 1 - y, y), x)
        ny = np.where(ry == 0, np.where(flip, s - 1 - x, x), y)
        x, y = nx, ny
        s >>= 1
    return d


def hilbert_latlon(lon: np.ndarray, lat: np.ndarray, order: int = 16) -> np.ndarray:
    """lon/lat → Hilbert key at a 2^order grid (same quantization shape
    as the Z2 helpers: floor-scale then clamp)."""
    s = float(1 << order)
    gx = np.clip(np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * s), 0, s - 1)
    gy = np.clip(np.floor((np.asarray(lat, np.float64) + 90.0) / 180.0 * s), 0, s - 1)
    return hilbert_d(gx.astype(np.int64), gy.astype(np.int64), order)
