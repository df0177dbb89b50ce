"""Gridded density surface (heatmap) — the aggregation GeoMesa ships as
its signature visualization query (its `density` command bins points
into a raster grid server-side so a map client never pulls raw points);
the reference library itself stops at scalar predicates, so this is the
beyond-reference piece that makes the spatial surface *render-ready*.

Construction: snap each point to a cell of size ``cell`` and spread one
unit of mass over the 3x3 cell neighborhood with the integer binomial
kernel [[1,2,1],[2,4,2],[1,2,1]] (a discrete Gaussian; total mass 16
per point). Kernel weights are INTEGERS, so cell densities are exact
integer sums — order-independent under any shuffle, hash-replayable in
SQL, no float accumulation.

Scale: one constant-factor explode (x9) and ONE map-side-combined
groupBy on the cell key; hot cells (cities) are groupBy skew handled
like every other hash agg (AQE split). The
output is grid-sized (bounded by world_area/cell^2), not data-sized —
the whole point of density surfaces at 100 TB: the result that leaves
the cluster is the raster, never the points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["density_grid", "KERNEL_3X3"]

# binomial 3x3 (outer product of [1,2,1]) — total mass 16
KERNEL_3X3 = [[1, 2, 1], [2, 4, 2], [1, 2, 1]]


def density_grid(
    points: DataFrame,
    x: str,
    y: str,
    cell: float,
    min_weight: int = 1,
) -> DataFrame:
    """(cell_x, cell_y, weight) — smoothed integer mass per grid cell.

    ``weight`` sums each point's kernel contribution to the cell: a
    point in cell (i, j) adds KERNEL[dy+1][dx+1] to (i+dx, j+dy).
    Total mass is exactly 16 x n_points (asserted in tests)."""
    cs = float(cell)
    ci = F.floor(F.col(x) / cs).cast("long")
    cj = F.floor(F.col(y) / cs).cast("long")
    contrib = F.array(
        *[
            F.struct(
                (ci + dx).alias("cell_x"),
                (cj + dy).alias("cell_y"),
                F.lit(KERNEL_3X3[dy + 1][dx + 1]).alias("w"),
            )
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    return (
        points.select(F.explode(contrib).alias("c"))
        .groupBy(F.col("c.cell_x").alias("cell_x"), F.col("c.cell_y").alias("cell_y"))
        .agg(F.sum("c.w").alias("weight"))
        .filter(F.col("weight") >= int(min_weight))
    )
