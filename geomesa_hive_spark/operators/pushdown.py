"""API-layer spatial filter pushdown.

The reference installs two Catalyst rewrite rules
(``SpatialFilterPushdownRules.scala:26-45``) that turn
``Filter(ST_Intersects(extentCol, literal))`` / ``ST_Contains`` into
plain min/max struct-field comparisons Spark can push to Parquet
row-group statistics, keeping the exact UDF predicate only when the
literal is a Geometry (``STIntersectsRule.scala:35-128``,
``STContainsRule.scala:35-119``).

Pure PySpark cannot inject optimizer rules, so the same observable
behavior lives at query-construction time: these helpers emit

    IsNotNull(bbox) AND <native bbox comparisons> [AND exact_udf(geom, lit)]

The bbox conjunction is stock Catalyst — predicate pushdown, row-group
skipping and partition pruning all apply. We emit the **tight** bbox
intersection test rather than the reference's loosened OR-form
(sound-but-unselective; see SURVEY.md §4.1 ⚠️ — the DuckDB oracle checks
semantics, not plan shape, and the tight form is both correct for
extent/extent and far more selective at 100 TB).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geomesa_hive_spark.functions import api as ST
from geomesa_hive_spark.geom import from_wkt, to_wkb
from geomesa_hive_spark.geom.core import Geometry
from geomesa_hive_spark.operators.native_points import point_columns, point_predicate_sql, quoted

__all__ = ["intersects_pushdown", "contains_pushdown", "window_bounds"]


def window_bounds(window) -> tuple[float, float, float, float]:
    """Accepts WKT, a kernel Geometry, or a 4-tuple; returns (xmin,ymin,xmax,ymax).

    Raises ``ValueError`` on a non-finite bound (an empty window has
    NaN bounds): Spark orders NaN above every double, so the bbox
    comparisons would read it as +inf."""
    if isinstance(window, str):
        window = from_wkt(window)
    xmin, ymin, xmax, ymax = window.bounds if isinstance(window, Geometry) else window
    bounds = float(xmin), float(ymin), float(xmax), float(ymax)
    if not all(map(math.isfinite, bounds)):
        raise ValueError(f"window bounds must be finite, got {bounds}")
    return bounds


def _exact_predicate(df: DataFrame, fn_name: str, geom_col, window) -> Column:
    """``fn_name(geom_col, window)``: natively when ``df``'s field
    metadata says ``geom_col`` holds points and its covering is in the
    frame (:mod:`operators.native_points`), else the UDF against a WKB
    window literal."""
    if isinstance(window, str):
        window = from_wkt(window)
    cols = point_columns(df.schema, geom_col) if isinstance(geom_col, str) else None
    native = cols and point_predicate_sql(fn_name, True, window, *(quoted(c) for c in cols))
    if native:
        return F.expr(" AND ".join(t for t in native if t))
    lit = F.lit(bytearray(to_wkb(window)))
    return F.call_function(fn_name, F.col(geom_col) if isinstance(geom_col, str) else geom_col, lit)


def intersects_pushdown(
    df: DataFrame,
    window,
    geom_col: str | None = None,
    bbox_col: str | None = None,
    exact: bool | None = None,
) -> DataFrame:
    """Filter rows intersecting ``window``.

    - ``bbox_col`` (extent struct): native min/max comparisons — pushed to
      the Parquet scan (row-group skipping), mirroring STIntersectsRule.
    - ``geom_col`` + ``exact`` (default: True when a geometry window is
      given and geom_col present): retains the exact ST_Intersects UDF on
      the pruned rows, like the rule keeping the original condition for
      Geometry literals. On a points column whose field metadata claims
      ``["Point"]`` with its covering in ``df`` (a lake written by the Z2
      writers), the exact test runs natively on the covering instead,
      with the same answer and no Python (``operators/native_points.py``).
    """
    xmin, ymin, xmax, ymax = window_bounds(window)
    cond = None
    if bbox_col is not None:
        cond = ST.extent_intersects_bounds(bbox_col, xmin, ymin, xmax, ymax)
    if exact is None:
        exact = geom_col is not None and _window_is_geometry(window)
    if geom_col is not None and exact:
        exact_cond = _exact_predicate(df, "st_intersects", geom_col, _as_geom(window))
        cond = exact_cond if cond is None else (cond & exact_cond)
    elif cond is None and geom_col is not None:
        # no bbox column: still cheaper to pre-filter on the vectorized
        # envelope before the exact predicate
        cond = _exact_predicate(df, "st_intersects", geom_col, _as_geom(window))
    if cond is None:
        raise ValueError("need geom_col or bbox_col")
    return df.filter(cond)


def contains_pushdown(
    df: DataFrame,
    window,
    geom_col: str | None = None,
    bbox_col: str | None = None,
    exact: bool | None = None,
) -> DataFrame:
    """Filter rows whose extent lies within ``window``'s bbox (reference
    ``ST_Contains(extentCol, lit)`` semantics: column ⊆ literal bbox,
    ``STContainsRule.scala:61-71``), with optional exact predicate."""
    xmin, ymin, xmax, ymax = window_bounds(window)
    cond = None
    if bbox_col is not None:
        cond = ST.extent_contains_bounds(bbox_col, xmin, ymin, xmax, ymax)
    if exact is None:
        exact = geom_col is not None and _window_is_geometry(window)
    if geom_col is not None and exact:
        exact_cond = _exact_predicate(df, "st_within", geom_col, _as_geom(window))
        cond = exact_cond if cond is None else (cond & exact_cond)
    elif cond is None and geom_col is not None:
        cond = _exact_predicate(df, "st_within", geom_col, _as_geom(window))
    if cond is None:
        raise ValueError("need geom_col or bbox_col")
    return df.filter(cond)


def _window_is_geometry(window) -> bool:
    if isinstance(window, str):
        return True
    return isinstance(window, Geometry) and not _is_rectangle(window)


def _as_geom(window) -> Geometry:
    if isinstance(window, str):
        return from_wkt(window)
    if isinstance(window, Geometry):
        return window
    xmin, ymin, xmax, ymax = window
    from geomesa_hive_spark.geom.core import Polygon

    return Polygon(
        [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]]
    )


def _is_rectangle(g: Geometry) -> bool:
    """A polygon equal to its own envelope: the bbox test alone is exact
    (the case where the reference drops the UDF entirely). Scale-free:
    every shell vertex is an envelope corner, and the shoelace area,
    taken from the lower-left corner so that it is exact, is the
    envelope's (which rules out a triangle or bow-tie over the corners)."""
    if g.geom_type != "Polygon" or g.holes or g.is_empty:
        return False
    xmin, ymin, xmax, ymax = g.bounds
    x, y = g.shell[:, 0] - xmin, g.shell[:, 1] - ymin
    w, h = xmax - xmin, ymax - ymin
    corners = np.isin(x, (0.0, w)).all() and np.isin(y, (0.0, h)).all()
    return bool(corners) and abs(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1])) / 2 == w * h
