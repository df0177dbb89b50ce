"""Seeded input generator for the spatial benchmark.

Every input comes from one NumPy ``Generator`` seeded by ``--seed`` and is
written as plain parquet with pyarrow; the engine under test only ever
reads those files. The same seed gives byte-identical inputs.

The data is skewed on purpose: points cluster around ~50 "cities" whose
sizes follow a heavy-tailed weight, so Z2 files, PBSM grid cells and
query windows all see dense and sparse regions. Polygons are convex
(vertices on a circle at sorted, jittered angles), 5-12 vertices, with
radii spread log-uniformly over two decades.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGION = (-125.0, 25.0, -67.0, 49.0)
N_CITIES = 50
MAX_VERTS = 12


@dataclass
class Cities:
    xy: np.ndarray  # (k, 2) centres
    sigma: np.ndarray  # (k,) spread in degrees
    weight: np.ndarray  # (k,) sampling probability


@dataclass
class Points:
    id: np.ndarray
    v: np.ndarray
    x: np.ndarray
    y: np.ndarray

    def __len__(self) -> int:
        return len(self.id)


@dataclass
class Polygons:
    """Convex CCW polygons, vertices padded to ``MAX_VERTS`` (open rings)."""

    id: np.ndarray
    v: np.ndarray
    verts: np.ndarray  # (n, MAX_VERTS, 2), rows past nv repeat the last vertex
    nv: np.ndarray  # (n,)

    def __len__(self) -> int:
        return len(self.id)

    def bounds(self) -> np.ndarray:
        """(n, 4) xmin, ymin, xmax, ymax (padding repeats a real vertex)."""
        v = self.verts
        return np.stack(
            [v[:, :, 0].min(1), v[:, :, 1].min(1), v[:, :, 0].max(1), v[:, :, 1].max(1)],
            axis=1,
        )

    def wkt(self) -> list[str]:
        return [polygon_wkt(self.verts[i, : self.nv[i]]) for i in range(len(self))]


def make_cities(rng: np.random.Generator, k: int = N_CITIES) -> Cities:
    """City weights (Zipf-like) and spreads are fixed; only the positions
    depend on the seed, so every seed has the same density profile and
    per-seed work stays comparable."""
    x0, y0, x1, y1 = REGION
    xy = np.stack([rng.uniform(x0 + 2, x1 - 2, k), rng.uniform(y0 + 2, y1 - 2, k)], axis=1)
    rank = np.arange(k)
    sigma = 0.05 + 0.55 * rank / max(k - 1, 1)
    w = 1.0 / (rank + 1.0) ** 0.8
    return Cities(xy, sigma, w / w.sum())


def _centres(rng: np.random.Generator, cities: Cities, n: int, background: float) -> np.ndarray:
    """n locations: a Gaussian around a weighted city, or uniform background."""
    x0, y0, x1, y1 = REGION
    c = rng.choice(len(cities.weight), size=n, p=cities.weight)
    xy = cities.xy[c] + rng.standard_normal((n, 2)) * cities.sigma[c, None]
    bg = rng.random(n) < background
    nbg = int(bg.sum())
    xy[bg] = np.stack([rng.uniform(x0, x1, nbg), rng.uniform(y0, y1, nbg)], axis=1)
    xy[:, 0] = np.clip(xy[:, 0], x0, x1)
    xy[:, 1] = np.clip(xy[:, 1], y0, y1)
    return xy


def city_point(rng: np.random.Generator, cities: Cities, k: int) -> tuple[float, float]:
    """One location drawn around city ``k``."""
    x, y = cities.xy[k] + rng.standard_normal(2) * cities.sigma[k]
    return float(x), float(y)


def make_points(rng: np.random.Generator, cities: Cities, n: int, id0: int = 0) -> Points:
    xy = _centres(rng, cities, n, background=0.05)
    ids = np.arange(id0, id0 + n, dtype=np.int64)
    return Points(ids, rng.integers(0, 1000, n, dtype=np.int64), xy[:, 0].copy(), xy[:, 1].copy())


def convex_ring(rng: np.random.Generator, cx: float, cy: float, r: float, nv: int) -> np.ndarray:
    """nv CCW vertices on a circle at jittered, evenly spread angles: convex
    by construction, with no near-duplicate vertices."""
    step = 2 * math.pi / nv
    ang = rng.uniform(0, 2 * math.pi) + step * (np.arange(nv) + rng.uniform(-0.3, 0.3, nv))
    return np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)


def make_polygons(
    rng: np.random.Generator,
    cities: Cities,
    n: int,
    r_range: tuple[float, float] = (0.002, 0.2),
    id0: int = 0,
) -> Polygons:
    xy = _centres(rng, cities, n, background=0.05)
    r = np.exp(rng.uniform(math.log(r_range[0]), math.log(r_range[1]), n))
    nv = rng.integers(5, MAX_VERTS + 1, n)
    verts = np.empty((n, MAX_VERTS, 2))
    for i in range(n):
        ring = convex_ring(rng, xy[i, 0], xy[i, 1], r[i], int(nv[i]))
        verts[i, : nv[i]] = ring
        verts[i, nv[i]:] = ring[-1]
    ids = np.arange(id0, id0 + n, dtype=np.int64)
    return Polygons(ids, rng.integers(0, 1000, n, dtype=np.int64), verts, nv.astype(np.int64))


def polygon_wkt(ring: np.ndarray) -> str:
    """WKT of an open ring; ``repr`` keeps every double exact through parsing."""
    pts = ", ".join(f"{x!r} {y!r}" for x, y in ring.tolist())
    x, y = ring[0].tolist()
    return f"POLYGON (({pts}, {x!r} {y!r}))"


def write_points(path: str, p: Points) -> int:
    """Landing parquet of raw lon/lat; returns its size in bytes."""
    tbl = pa.table({"id": p.id, "v": p.v, "lon": p.x, "lat": p.y})
    pq.write_table(tbl, path)
    return os.path.getsize(path)


def write_polygons(path: str, g: Polygons) -> int:
    """Landing parquet of raw WKT; returns its size in bytes."""
    tbl = pa.table({"id": g.id, "v": g.v, "wkt": pa.array(g.wkt(), pa.string())})
    pq.write_table(tbl, path)
    return os.path.getsize(path)
