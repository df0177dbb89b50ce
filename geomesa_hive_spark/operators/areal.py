"""Areal interpolation — area-weighted reallocation of zone values
onto a regular grid (the classic GIS downscaling operator: census
tracts → raster, admin zones → tiles). For each zone Z with value v
and each grid cell C it overlaps, the cell receives
``v · area(Z ∩ C) / area(Z)``; cell totals are the sum over zones.

Spark-first shape (the PBSM pattern `operators/spatial_join.py`
established): the zone's envelope enumerates its covered cells with a
native ``sequence`` × ``transform`` explode (no UDF, no shuffle until
the final cell aggregation), the intersection runs only on the
(zone, cell) pairs that survive — polygon ∩ cell-rectangle via the
real clipping kernel (`geom/clip.py`) — and per-pair weights are
quantized to integer micro-units BEFORE the sum, so cell totals are
exact order-independent integers (the repo's standard cross-engine
trick). The float32 cast on both areas absorbs shoelace-vs-closed-form
last-ulp noise exactly like the projection oracles.

At 100 TB: one explode (fan-out bounded by cells-per-zone), one
map-side-combined groupBy on the cell key. Giant zones spanning many
cells fan out proportionally — pre-split such zones (or raise
cell_size) exactly as the spatial-join docstring advises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["areal_interpolate"]


def areal_interpolate(
    df: DataFrame,
    geom_col: str,
    value_col: str,
    cell_size: float = 1.0,
    scale: int = 1_000_000,
) -> DataFrame:
    """(cell_x, cell_y, val_q): integer-quantized area-weighted value
    per grid cell. Requires ``register_all(spark)`` (uses the ST
    registry like spatial_join). ``val_q`` is in units of
    ``value/scale``; zero-area zones contribute nothing."""
    cs = float(cell_size)
    bbox = F.call_function("st_extentfromgeom", F.col(geom_col))
    d = df.withColumn("__bbox", bbox)
    ix0 = F.floor(F.col("__bbox")["xmin"] / cs).cast("long")
    ix1 = F.floor(F.col("__bbox")["xmax"] / cs).cast("long")
    iy0 = F.floor(F.col("__bbox")["ymin"] / cs).cast("long")
    iy1 = F.floor(F.col("__bbox")["ymax"] / cs).cast("long")
    pairs = F.flatten(
        F.transform(
            F.sequence(ix0, ix1),
            lambda ix: F.transform(
                F.sequence(iy0, iy1),
                lambda iy: F.struct(ix.alias("cx"), iy.alias("cy")),
            ),
        )
    )
    e = d.withColumn("__cell", F.explode(pairs)).select(
        F.col(geom_col).alias("__g"),
        F.col(value_col).alias("__v"),
        F.col("__cell.cx").alias("cell_x"),
        F.col("__cell.cy").alias("cell_y"),
    )
    areas = _areas_udf(cs)
    e = e.withColumn(
        "__a", areas(F.col("__g"), F.col("cell_x"), F.col("cell_y"))
    ).select(
        "cell_x", "cell_y", "__v",
        F.col("__a.ai").alias("__ai"), F.col("__a.az").alias("__az"),
    )
    w_q = F.expr(
        f"CAST(round(__v * (CAST(CAST(__ai AS FLOAT) AS DOUBLE)"
        f" / CAST(CAST(__az AS FLOAT) AS DOUBLE)) * {float(int(scale))}) AS BIGINT)"
    )
    return (
        e.filter(F.col("__az") > 0)
        .withColumn("__wq", w_q)
        .groupBy("cell_x", "cell_y")
        .agg(F.sum("__wq").cast("long").alias("val_q"))
    )


def _axis_rect(g):
    """(x0, y0, x1, y1) if the geometry is an axis-aligned rectangle
    ring (exactly the shape st_makeBBOX emits), else None."""
    if g.geom_type != "Polygon" or g.holes:
        return None
    sh = g.shell
    if sh.shape[0] != 5 or not (sh[0] == sh[4]).all():
        return None
    xs, ys = sh[:4, 0], sh[:4, 1]
    x0, x1 = xs.min(), xs.max()
    y0, y1 = ys.min(), ys.max()
    ok = all(
        (x in (x0, x1)) and (y in (y0, y1)) for x, y in zip(xs, ys)
    ) and len({(x, y) for x, y in zip(xs, ys)}) == 4
    return (float(x0), float(y0), float(x1), float(y1)) if ok else None


def _areas_udf(cs: float):
    """pandas UDF (geom_wkb, cell_x, cell_y) → struct(ai, az).

    Axis-aligned rectangle zones take the EXACT closed-form overlap
    (min/max interval arithmetic in doubles — the dominant case: grid
    cells are always rectilinear, and bbox zones are common), which is
    what makes an independent SQL oracle replayable bit-near. General
    polygons fall back to the real clipping kernel (geom/clip.py),
    whose deliberate robustness epsilon (~1e-9·scale vertex snapping)
    is exactness-traded and pytest-verified instead."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from geomesa_hive_spark.geom import algorithms as alg
    from geomesa_hive_spark.geom import clip
    from geomesa_hive_spark.geom.core import Polygon
    from geomesa_hive_spark.functions.st import parse_cache

    def _fn(gs, cxs, cys):
        parse = parse_cache()
        ai_out, az_out = [], []
        for b, cx, cy in zip(gs, cxs, cys):
            g = parse(b)
            if g is None:
                ai_out.append(None)
                az_out.append(None)
                continue
            x0c, y0c = cx * cs, cy * cs
            x1c, y1c = (cx + 1) * cs, (cy + 1) * cs
            rect = _axis_rect(g)
            if rect is not None:
                x0, y0, x1, y1 = rect
                ox = max(0.0, min(x1, x1c) - max(x0, x0c))
                oy = max(0.0, min(y1, y1c) - max(y0, y0c))
                ai_out.append(ox * oy)
                az_out.append((x1 - x0) * (y1 - y0))
                continue
            cell = Polygon(
                [[x0c, y0c], [x1c, y0c], [x1c, y1c], [x0c, y1c], [x0c, y0c]]
            )
            ai_out.append(float(alg.area(clip.intersection(g, cell))))
            az_out.append(float(alg.area(g)))
        return pd.DataFrame({"ai": ai_out, "az": az_out})

    _fn.__annotations__ = {
        "gs": pd.Series, "cxs": pd.Series, "cys": pd.Series,
        "return": pd.DataFrame,
    }
    return pandas_udf(_fn, "ai double, az double")
