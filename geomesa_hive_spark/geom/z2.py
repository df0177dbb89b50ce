"""Z2 space-filling curve (Morton interleave), vectorized in numpy.

Semantics match the reference's index helpers:

- ``st_z2LatLon``: scale lon/lat into 31-bit grid ints
  (``(lon+180)/360 * 2^30``, ``(lat+90)/180 * 2^30`` —
  ``spatial-index/.../ST_Z2LatLon.scala:34-35``), Morton-interleave the
  envelope corners → (min, max) index range.
- ``st_partitionCentroid``: power-of-two tile grid at a zoom level,
  Morton cell id right-shifted ``bits``
  (``ST_PartitionCentroid.scala:40-50``).
"""

from __future__ import annotations

import numpy as np

__all__ = ["interleave2", "z2_latlon_range", "partition_centroid_key"]

_SCALE_BITS = 30  # 2^30 grid per axis, interleaved into ≤62 bits


def interleave2(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Morton-interleave two uint arrays (bit i of x → bit 2i, y → 2i+1)."""
    x = np.asarray(x, dtype=np.uint64)
    y = np.asarray(y, dtype=np.uint64)

    def spread(v: np.ndarray) -> np.ndarray:
        v = v & np.uint64(0xFFFFFFFF)
        v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
        return v

    return (spread(x) | (spread(y) << np.uint64(1))).astype(np.int64)


def z2_latlon_range(
    xmin: np.ndarray, ymin: np.ndarray, xmax: np.ndarray, ymax: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(zmin, zmax) Z2 values of an envelope's corners in lon/lat."""
    s = float(1 << _SCALE_BITS)

    def cell(v, half):
        v = np.floor((np.asarray(v, dtype=np.float64) + half) / (2 * half) * s)
        # a NaN bound (NULL or empty geometry) has no cell: 0 keeps the
        # uint64 cast defined, and the caller masks the row
        return np.clip(np.where(np.isnan(v), 0.0, v), 0, s - 1).astype(np.uint64)

    return (interleave2(cell(xmin, 180.0), cell(ymin, 90.0)),
            interleave2(cell(xmax, 180.0), cell(ymax, 90.0)))


def partition_centroid_key(
    cx: np.ndarray,
    cy: np.ndarray,
    zoom: int,
    tile_size: int = 256,
    bits: int = 8,
    crs: str = "EPSG:4326",
) -> np.ndarray:
    """Z2 cell id of the centroid's tile at a zoom level, >> bits.

    Grid layout follows the power-of-two tile pyramid: lon/lat world is
    2^(zoom+1) × 2^zoom tiles (2:1 aspect), web-mercator world is
    2^zoom × 2^zoom. ``tile_size`` participates only through the zoom
    pyramid definition (256 standard) and is accepted for parity.
    """
    cx = np.asarray(cx, dtype=np.float64)
    cy = np.asarray(cy, dtype=np.float64)
    if crs.upper() in ("EPSG:3857", "WEBMERCATOR", "WEB-MERCATOR"):
        world = 20037508.342789244
        cols = np.uint64(1) << np.uint64(zoom)
        rows = cols
        fx = (cx + world) / (2 * world)
        fy = (world - cy) / (2 * world)
    else:  # lon/lat
        cols = np.uint64(1) << np.uint64(zoom + 1)
        rows = np.uint64(1) << np.uint64(zoom)
        fx = (cx + 180.0) / 360.0
        fy = (90.0 - cy) / 180.0
    col = np.clip(np.floor(fx * float(cols)), 0, float(cols) - 1).astype(np.uint64)
    row = np.clip(np.floor(fy * float(rows)), 0, float(rows) - 1).astype(np.uint64)
    z = interleave2(col, row)
    return (z >> np.int64(bits)).astype(np.int64)
