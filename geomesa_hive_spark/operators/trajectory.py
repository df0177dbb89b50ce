"""Per-entity trajectory assembly — the moving-object workload the
GeoMesa ecosystem is built around (tracks from timestamped point
observations), expressed as one grouped aggregation.

Shape: one map-side-combinable groupBy per entity collecting the
(ts, tiebreak, lon, lat) structs, sorted in-array (``sort_array`` on
the struct — field-order comparison, deterministic given a unique
tiebreak), then segment measures folded over consecutive pairs with
``aggregate``. Everything after the single shuffle is per-row array
math in whole-stage codegen.

Exactness: each segment's great-circle length is rounded to WHOLE
METERS before summation — integer track totals are order-independent
and engine-exact. The haversine itself is emitted from ONE SQL template
(``haversine_sql``) used verbatim by the Spark expression and the
DuckDB oracle, so both engines evaluate the identical double
arithmetic (libm parity for sin/cos/asin is the contract the geodesy
suite already hash-verifies).

Scale: state per entity is its own point list — fine for bounded
tracks (the usual day/flight/voyage windowing); an entity with
unboundedly many points needs pre-windowing (e.g. groupBy user+day),
which composes with this operator unchanged. This honest limit is the
same one GeoMesa's track aggregations carry.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["haversine_sql", "build_tracks", "hausdorff_join"]

_R = "6371008.7714"  # WGS84 mean radius — matches geom/geodesy.py


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle meters as a dialect-neutral SQL expression (the
    exact formula the spatial_geodesy oracle hash-verifies)."""
    dlat = f"radians(({lat2}) - ({lat1})) / 2.0"
    dlon = f"radians(({lon2}) - ({lon1})) / 2.0"
    # least(..., 1.0): near-antipodal pairs can push the argument one
    # ulp past 1.0 and asin would return NaN — clamp identically in
    # both engines
    arg = (
        f"least(sin({dlat}) * sin({dlat}) "
        f"+ cos(radians({lat1})) * cos(radians({lat2})) "
        f"* sin({dlon}) * sin({dlon}), 1.0)"
    )
    return f"2.0 * {_R} * asin(sqrt({arg}))"


def build_tracks(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    tiebreak_col: str,
    lon_col: str,
    lat_col: str,
) -> DataFrame:
    """Per-entity track stats: (entity, n_pts, track_m, dur_s, avg_mps,
    plus the track bbox). ``track_m`` is the integer-meter sum of
    consecutive great-circle segments in (ts, tiebreak) order."""
    grouped = df.groupBy(F.col(entity_col).alias("entity")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(ts_col).alias("t"),
                    F.col(tiebreak_col).alias("k"),
                    F.col(lon_col).alias("x"),
                    F.col(lat_col).alias("y"),
                )
            )
        ).alias("a"),
        F.count("*").alias("n_pts"),
        F.round(F.min(lon_col), 2).alias("xmin"),
        F.round(F.min(lat_col), 2).alias("ymin"),
        F.round(F.max(lon_col), 2).alias("xmax"),
        F.round(F.max(lat_col), 2).alias("ymax"),
    )
    seg = haversine_sql(
        "element_at(a, i).y", "element_at(a, i).x",
        "element_at(a, i + 1).y", "element_at(a, i + 1).x",
    )
    track = F.expr(
        "CASE WHEN size(a) < 2 THEN CAST(0 AS BIGINT) ELSE "
        "aggregate(sequence(1, size(a) - 1), CAST(0 AS BIGINT), "
        f"(acc, i) -> acc + CAST(round({seg}) AS BIGINT)) END"
    )
    dur = F.expr(
        "(unix_micros(element_at(a, size(a)).t) - unix_micros(element_at(a, 1).t))"
        " DIV 1000000"
    )
    staged = grouped.select(
        "entity",
        "n_pts",
        track.alias("track_m"),
        dur.alias("dur_s"),
        "xmin",
        "ymin",
        "xmax",
        "ymax",
    )
    return staged.select(
        "entity",
        "n_pts",
        "track_m",
        "dur_s",
        F.when(F.col("dur_s") > 0, F.round(F.col("track_m") / F.col("dur_s"), 3))
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("avg_mps"),
        "xmin",
        "ymin",
        "xmax",
        "ymax",
    )


def hausdorff_join(
    df: DataFrame,
    key_col: str,
    order_col: str,
    x_col: str,
    y_col: str,
    max_dist: float,
    cell_size: float | None = None,
) -> DataFrame:
    """Trajectory-similarity self-join: all key pairs whose DISCRETE
    HAUSDORFF distance (planar) is ≤ ``max_dist`` — the canonical
    "which tracks look alike" operator (map-matching QA, convoy /
    companion detection, trace dedup) that Spark has no native form
    for. Returns (key_a, key_b, hausdorff) with key_a < key_b.

    Plan (PBSM shape, the same discipline as operators/spatial_join):

    1. ONE groupBy assembles each key's point arrays + bbox — state is
       per-track, the same honest pre-window-your-entities limit as
       build_tracks.
    2. Candidates via grid cells: the A side emits cells over its bbox
       EXPANDED by max_dist, the B side over its raw bbox — two bboxes
       within max_dist always share a cell (one-sided expansion avoids
       double growth). The equi-join on cell is the only pair-finding
       shuffle; no all-pairs anywhere.
    3. Reference-cell dedup (pair kept only where its overlap corner
       falls) + the bbox-gap prune: the bbox gap lower-bounds the
       min pairwise distance, which lower-bounds Hausdorff, so
       gap > max_dist pairs drop before any point math.
    4. Exact O(n·m) Hausdorff per surviving pair in an Arrow-batched
       pandas UDF (vectorized d² matrix; max of the two directed
       max-min distances). Cost is bounded by candidates × track
       lengths, the quantity steps 2-3 exist to minimize.

    All d² terms are exact double products of input coords, and
    min/max are order-independent, so the result is deterministic
    under any partitioning — a brute-force pair join replays it
    exactly.
    """
    from pyspark.sql.functions import pandas_udf

    cs = float(cell_size or max_dist)
    d = float(max_dist)

    pts = F.sort_array(
        F.collect_list(F.struct(F.col(order_col).alias("o"),
                                F.col(x_col).alias("x"),
                                F.col(y_col).alias("y")))
    )
    tr = df.groupBy(F.col(key_col).alias("k")).agg(
        F.transform(pts, lambda s: s["x"]).alias("xs"),
        F.transform(pts, lambda s: s["y"]).alias("ys"),
        F.min(x_col).alias("x0"), F.max(x_col).alias("x1"),
        F.min(y_col).alias("y0"), F.max(y_col).alias("y1"),
    )

    def cells(x0, x1, y0, y1):
        return F.expr(
            f"flatten(transform(sequence(CAST(floor(({x0}) / {cs}) AS INT), "
            f"CAST(floor(({x1}) / {cs}) AS INT)), "
            f"cx -> transform(sequence(CAST(floor(({y0}) / {cs}) AS INT), "
            f"CAST(floor(({y1}) / {cs}) AS INT)), "
            f"cy -> struct(cx, cy))))"
        )

    a = tr.select(
        F.col("k").alias("ak"), F.col("xs").alias("axs"), F.col("ys").alias("ays"),
        F.col("x0").alias("ax0"), F.col("x1").alias("ax1"),
        F.col("y0").alias("ay0"), F.col("y1").alias("ay1"),
        F.explode(cells(f"x0 - {d}", f"x1 + {d}", f"y0 - {d}", f"y1 + {d}")).alias("cell"),
    )
    b = tr.select(
        F.col("k").alias("bk"), F.col("xs").alias("bxs"), F.col("ys").alias("bys"),
        F.col("x0").alias("bx0"), F.col("x1").alias("bx1"),
        F.col("y0").alias("by0"), F.col("y1").alias("by1"),
        F.explode(cells("x0", "x1", "y0", "y1")).alias("cell"),
    )
    cand = (
        a.join(b, ["cell"])
        .filter(F.col("ak") < F.col("bk"))
        # reference-cell dedup: the overlap region's min corner
        .filter(
            (F.floor(F.greatest(F.col("ax0") - d, F.col("bx0")) / cs)
             == F.col("cell.cx"))
            & (F.floor(F.greatest(F.col("ay0") - d, F.col("by0")) / cs)
               == F.col("cell.cy"))
        )
        # bbox gap ≤ min pairwise dist ≤ Hausdorff
        .filter(
            (F.greatest(F.col("bx0") - F.col("ax1"),
                        F.col("ax0") - F.col("bx1"), F.lit(0.0)) ** 2
             + F.greatest(F.col("by0") - F.col("ay1"),
                          F.col("ay0") - F.col("by1"), F.lit(0.0)) ** 2)
            <= F.lit(d * d)
        )
    )

    @pandas_udf("double")
    def _hd(axs: pd.Series, ays: pd.Series, bxs: pd.Series, bys: pd.Series) -> pd.Series:
        out = np.empty(len(axs), dtype=np.float64)
        for i in range(len(axs)):
            ax = np.asarray(axs[i], dtype=np.float64)
            ay = np.asarray(ays[i], dtype=np.float64)
            bx = np.asarray(bxs[i], dtype=np.float64)
            by = np.asarray(bys[i], dtype=np.float64)
            dx = ax[:, None] - bx[None, :]
            dy = ay[:, None] - by[None, :]
            d2 = dx * dx + dy * dy
            out[i] = math.sqrt(max(d2.min(axis=1).max(), d2.min(axis=0).max()))
        return pd.Series(out)

    return (
        cand.withColumn("hausdorff", _hd("axs", "ays", "bxs", "bys"))
        .filter(F.col("hausdorff") <= d)
        .select(F.col("ak").alias("key_a"), F.col("bk").alias("key_b"),
                "hausdorff")
    )
