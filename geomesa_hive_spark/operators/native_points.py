"""Point predicates against a polygon literal as Spark SQL, with no Python.

The lake's record: the Z2 writers (``operators/partitioning.py``) save
a ``_common_metadata`` summary whose Spark schema gives the geometry
column the field metadata ``{"geo": {"geometry_types": [...],
"covering": "bbox"}}`` (GeoParquet 1.1 names) and its covering column
``{"geo": {"covering_of": "<geometry column>"}}``. ``spark.read.parquet``
takes its schema from that file, so the metadata reaches
``spark.table(t).schema``, temp views, filters and selects; a ``select``
that drops the covering, or an expression that replaces either column,
drops the claim with it.

The use: when a column's claim is exactly ``["Point"]`` and its covering
is in the frame, every row's point is ``(bbox.xmin, bbox.ymin)``, and
``st_intersects|st_within|st_contains|st_covers|st_disjoint`` against a
polygonal literal is :func:`point_predicate_sql`: the covering
conjunction plus a native point-in-polygon test that equals the UDF's
vectorized kernel (``geom/algorithms.py:points_in_polygon_vec``) bit for
bit. The typed SQL rewrite (``spatial_sql.py``) and
``intersects_pushdown``/``contains_pushdown`` (``pushdown.py``) both call
it; any other column, literal or predicate keeps the UDF.

The native test, per polygon part (parts are OR-ed, as the kernel's):

- the kernel's candidate gate, the part's bbox grown by ``eps``
  (``eps = 1e-9 · _scale(literal)``), as four comparisons;
- one ``aggregate`` over an edge-array literal carrying the crossing
  parity of ``_points_in_ring_vec`` (its orientation-sign form, one bit
  per ring, so ``mask = 1`` is "inside the shell and no hole") and the
  boundary band of ``_points_on_segments_vec`` (``d² <= eps²`` with the
  clamped ``t``, the same float formula), evaluated only where the
  point is within ``2·eps`` of the edge's y range and of its line
  (``|orient| <= 2·eps·len``), a gate every band point passes;
- intersects and covers are ``parity OR band``, within and contains
  ``parity AND NOT band``. The kernel re-decides a parity sign inside
  Shewchuk's A-bound with exact rationals; such a point lies about
  1e-15·scale from the edge, deep inside the band, so both forms give
  the kernel's answer without that fallback.

A NULL or NaN point (``POINT EMPTY``) is NULL, as in the UDF. A row whose
geometry is not a 2D point despite the claim (a ``union`` keeps the first
input's field metadata) raises instead of answering wrongly.
"""

from __future__ import annotations

import json
import math
import sys

import numpy as np
from pyspark.sql import types as T

from geomesa_hive_spark.functions.st import EXTENT_TYPE
from geomesa_hive_spark.geom.algorithms import _EPS, _scale
from geomesa_hive_spark.geom.core import Geometry

__all__ = ["GEO_KEY", "claim", "covering_column", "is_extent_type", "point_columns", "point_predicate_sql",
           "quoted"]

GEO_KEY = "geo"

# the first five WKB bytes (byte order + type) of a 2D point, both orders
_POINT_HEADERS = "X'0101000000', X'0000000001'"

# what the UDF computes for fn(point column, literal) (True) or
# fn(literal, point column) (False) on an all-point batch against an
# areal constant (st.py:_vec_eval): the point-in-polygon test with the
# boundary (include) or without it (exclude), never true (a point
# contains no areal geometry), or the complement of include.
# st_within(literal, point) is absent: the UDF takes its per-row kernel
# path there, whose answer for an empty point differs.
_MODES = {
    ("st_intersects", True): "include", ("st_intersects", False): "include",
    ("st_covers", False): "include",
    ("st_within", True): "exclude", ("st_contains", False): "exclude",
    ("st_contains", True): "never", ("st_covers", True): "never",
    ("st_disjoint", True): "outside", ("st_disjoint", False): "outside",
}
# the edge literal stays finite, eps² a normal number and, below
# _MIN_GATE, the gate's 2·eps·len is replaced by the largest double
_MAX_SCALE = 1e50
_MIN_SCALE = 1e-100
_MIN_GATE = 1e-300
_NEAR = 1 << 62
_EDGE_TYPE = ("array<struct<a:double,b:double,d:double,dx:double,dy:double,l:double,m:bigint,"
              "y0:double,y1:double,h:double>>")


def claim(geometry_types: list[str], covering: str) -> dict:
    """The field metadata of a geometry column: its GeoParquet 1.1
    ``geometry_types`` and covering column."""
    return {GEO_KEY: {"geometry_types": list(geometry_types), "covering": covering}}


def is_extent_type(dt) -> bool:
    """``dt`` is the extent struct, up to field-name case and nullability."""
    return isinstance(dt, T.StructType) and [(f.name.lower(), f.dataType) for f in dt.fields] == [
        (f.name, f.dataType) for f in EXTENT_TYPE.fields]


def _geo(f) -> dict:
    """The ``geo`` field metadata of the field ``f`` (None: no field)."""
    return (f.metadata.get(GEO_KEY) if f is not None else None) or {}


def covering_column(schema: T.StructType, geom: str) -> str | None:
    """The name of the covering column of the geometry column ``geom``
    (any case), of any geometry type, when the claim can be used: the
    column's metadata names a covering, that covering is in ``schema``
    as an extent struct, and it claims ``geom`` back with
    ``covering_of``. None otherwise."""
    fields = {f.name.lower(): f for f in schema.fields}
    f = fields.get(geom.lower())
    if f is None:
        return None
    cov = fields.get(str(_geo(f).get("covering", "")).lower())
    if cov is None or not is_extent_type(cov.dataType):
        return None
    return cov.name if str(_geo(cov).get("covering_of")).lower() == f.name.lower() else None


def point_columns(schema: T.StructType, col: str) -> tuple[str, str] | None:
    """``(geometry, covering)`` column names when ``col`` (either of the
    two, any case) holds points by the claim: the binary geometry
    column's metadata lists exactly ``["Point"]`` and its covering is
    usable (:func:`covering_column`). None otherwise."""
    fields = {f.name.lower(): f for f in schema.fields}
    f = fields.get(col.lower())
    geo = _geo(f)
    if "covering_of" in geo:
        found = fields.get(str(geo["covering_of"]).lower())
        got = found and point_columns(schema, found.name)
        return got if got and got[1] == f.name else None
    if geo.get("geometry_types") != ["Point"] or not isinstance(f.dataType, T.BinaryType):
        return None
    cov = covering_column(schema, f.name)
    return (f.name, cov) if cov else None


def quoted(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _d(v: float) -> str:
    """A double literal (Spark reads a bare ``1.5`` as a decimal)."""
    return f"{float(v)!r}D"


def _ring_edges(part, eps: float) -> str | None:
    """The edge-array literal of one polygon part, shell first then
    holes, as ``from_json`` of a JSON string (one token for the parser,
    folded to a constant by the optimizer; JSON numbers parse to the
    same doubles as Python's ``repr``). Each edge: start ``(a, b)``, end
    ``y`` as ``d``, ``dx``/``dy``, ``len²`` as ``l``, the ring's parity
    bit ``m``, the edge's y range grown by ``2·eps`` (``y0``, ``y1``: a
    crossing and the band both lie in it) and the near-line gate
    ``h = 2·eps·len`` (the largest double below 1e-300, where the
    orientation's error bound would no longer sit inside it). None when
    the part has more rings than the accumulator has parity bits."""
    rings = part.rings
    if len(rings) > 62:
        return None
    out = []
    for k, ring in enumerate(rings):
        xy = np.asarray(ring, dtype=np.float64)[:, :2]
        for (x1, y1), (x2, y2) in zip(xy[:-1].tolist(), xy[1:].tolist()):
            dx, dy = x2 - x1, y2 - y1
            ln2 = dx * dx + dy * dy
            h = 2.0 * eps * math.sqrt(ln2)
            out.append({"a": x1, "b": y1, "d": y2, "dx": dx, "dy": dy, "l": ln2, "m": 1 << k,
                        "y0": min(y1, y2) - 2 * eps, "y1": max(y1, y2) + 2 * eps,
                        "h": h if h >= _MIN_GATE else sys.float_info.max})
    return f"from_json('{json.dumps(out, separators=(',', ':'))}', '{_EDGE_TYPE}')"


def _part_sql(part, eps: float, x: str, y: str, boundary: bool) -> str | None:
    """The native test of one polygon part (see the module docstring).
    The accumulator is one long: bit ``k`` the parity of ring ``k``,
    bit 62 (``_NEAR``) set once the point is in some edge's band. An
    edge whose grown y range misses the point changes neither."""
    if not any(len(r) > 1 for r in part.rings):
        return "false"
    edges = _ring_edges(part, eps)
    if edges is None:
        return None
    b = part.bounds
    gate = (f"{x} >= {_d(b[0] - eps)} AND {x} <= {_d(b[2] + eps)} AND "
            f"{y} >= {_d(b[1] - eps)} AND {y} <= {_d(b[3] + eps)}")
    # the lambdas reference only their own variables (the point is bound
    # once as p), so their short names cannot meet a column's
    o = "(e.dx * (p.y - e.b) - e.dy * (p.x - e.a))"
    cross = f"(e.b <= p.y) != (e.d <= p.y) AND {o} * IF(e.b <= p.y, 1D, -1D) > 0D"
    t = "least(greatest(IF(e.l > 0D, ((p.x - e.a) * e.dx + (p.y - e.b) * e.dy) / e.l, 0D), 0D), 1D)"
    band = (f"exists(array({t}), t -> (p.x - (e.a + t * e.dx)) * (p.x - (e.a + t * e.dx)) + "
            f"(p.y - (e.b + t * e.dy)) * (p.y - (e.b + t * e.dy)) <= {_d(eps * eps)})")
    merge = (f"IF(p.y >= e.y0 AND p.y <= e.y1, (s ^ IF({cross}, e.m, 0L)) "
             f"| IF(abs({o}) <= e.h AND {band}, {_NEAR}L, 0L), s)")
    finish = f"s = 1L OR s >= {_NEAR}L" if boundary else "s = 1L"
    test = (f"exists(array(named_struct('x', {x}, 'y', {y})), p -> aggregate({edges}, "
            f"0L, (s, e) -> {merge}, s -> {finish}))")
    return f"({gate} AND {test})"


def _native_sql(mode: str, g: Geometry, geom: str, x: str, y: str) -> str | None:
    """The native test of ``mode`` (see ``_MODES``) of the points
    ``(x, y)`` against ``g``, guarded: NULL for a NULL or NaN point, an
    error for a non-point ``geom`` row. None when ``g`` is not areal,
    has a non-finite coordinate or is too large for the edge literal."""
    if g.dimension != 2:
        return None
    parts = [p for p in g.geometries() if p.geom_type == "Polygon" and not p.is_empty]
    coords = [r[:, :2] for p in parts for r in p.rings]
    if not all(np.isfinite(c).all() for c in coords) or not _MIN_SCALE <= _scale(g) <= _MAX_SCALE:
        return None
    if mode == "never":
        body = "false"
    else:
        eps = _EPS * _scale(g)
        tests = [_part_sql(p, eps, x, y, mode != "exclude") for p in parts]
        if None in tests:
            return None
        body = " OR ".join(tests) or "false"
        if mode == "outside":
            body = f"NOT ({body})"
    return (f"CASE WHEN {x} IS NULL OR {y} IS NULL OR isnan({x}) OR isnan({y}) THEN NULL "
            f"WHEN substring({geom}, 1, 5) NOT IN ({_POINT_HEADERS}) THEN raise_error("
            f"'a geometry column whose field metadata claims Point holds another type') "
            f"ELSE {body} END")


def point_predicate_sql(fn: str, point_first: bool, g: Geometry, geom: str,
                        covering: str) -> tuple[str | None, str] | None:
    """``(conj, test)`` whose AND equals ``fn(geom, <g>)``
    (``point_first``) or ``fn(<g>, geom)``, where ``geom`` holds points
    whose coordinates are ``covering.xmin``/``covering.ymin`` (see
    :func:`point_columns`; both are SQL column texts). ``conj`` is the
    covering's bbox comparisons against ``g``'s bounds grown by the
    boundary band, so a filter pushes them to the Parquet scan (None
    where the predicate does not imply them); ``test`` the native test.
    (A writer's covering has no NaN: Arrow turns the extent UDF's NaN
    into NULL; a NaN in a covering built otherwise fails the
    comparisons, false where the UDF gives NULL.) None when ``fn`` and
    the argument order or ``g`` have no native form: keep the UDF."""
    mode = _MODES.get((fn.lower(), point_first))
    test = mode and _native_sql(mode, g, geom, f"{covering}.xmin", f"{covering}.ymin")
    if not test:
        return None
    if mode in ("never", "outside"):
        return None, f"({test})"
    eps = _EPS * _scale(g)
    x0, y0, x1, y1 = g.bounds
    # a point with one NULL coordinate must stay NULL, not turn false on
    # the other's comparison; IsNull pushes to Parquet as the rest does
    return (f"({covering}.xmin <= {_d(x1 + eps)} AND {covering}.xmax >= {_d(x0 - eps)} AND "
            f"{covering}.ymin <= {_d(y1 + eps)} AND {covering}.ymax >= {_d(y0 - eps)} OR "
            f"{covering}.xmin IS NULL OR {covering}.ymin IS NULL)"), f"({test})"
