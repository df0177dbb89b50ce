"""Every ST_* function of the reference, as Arrow-vectorized pandas UDFs.

Surface parity: the 78 SQL names of ``spatial/sql/createUDFs.sql:1-78``
plus the 9 index names of ``spatial-index/sql/createUDFs.sql:1-9``
(SURVEY.md §2.2-2.3). Geometry values are WKB bytes (BinaryType);
extents are ``struct<xmin,ymin,xmax,ymax:double>``; per-row semantics
follow JTS 1.18 via the numpy kernel.

Each per-row function is a declaration: its kernel, its argument kinds
and its return type, built by :func:`udf_core.st_udf`, which derives null
handling, numeric coercion, WKB decode/encode and the all-points path.
The few UDFs written by hand say why next to their ``pandas_udf`` call.

The index-module ``st_intersects``/``st_contains`` polymorphism
(Extent|Geometry on either side — ``spatial-index/.../ST_Intersects.scala:26-44``)
is implemented by runtime dispatch on the Arrow batch type: a struct
column arrives as a pandas DataFrame, a binary column as a Series.
Extent-vs-extent comparisons run as pure numpy (no geometry objects);
point-vs-literal predicates run through the vectorized PIP kernel.
"""

from __future__ import annotations

import functools
import math
import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from geomesa_hive_spark.geom import algorithms as alg
from geomesa_hive_spark.geom import clip as clip_mod
from geomesa_hive_spark.geom import geodesy, geohash, twkb
from geomesa_hive_spark.geom import linear as lin
from geomesa_hive_spark.geom import projections as proj
from geomesa_hive_spark.geom.core import (
    Geometry,
    GeometryCollection,
    LineString,
    MultiLineString,
    MultiPolygon,
    Point,
    Polygon,
)
from geomesa_hive_spark.geom.geojson import from_geojson, to_geojson
from geomesa_hive_spark.geom.wkb import (
    from_wkb,
    points_to_wkb_array,
    to_wkb,
    wkb_array_to_points,
)
from geomesa_hive_spark.geom.wkt import from_wkt, to_wkt
from geomesa_hive_spark.geom import z2 as z2_mod
from geomesa_hive_spark.functions.udf_core import (
    BYTES,
    GEOM,
    NUM,
    TEXT,
    numeric_series,
    parse_cache,
    st_udf,
)

EXTENT_TYPE = T.StructType(
    [
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)

Z2_TYPE = T.StructType(
    [T.StructField("min", T.LongType()), T.StructField("max", T.LongType())]
)

# argument kinds of the hand-written UDFs that the builder has no use for
EXTENT, GEOMS = "extent", "geoms"  # extent struct; array of point WKB

BIN = T.BinaryType()

SPEC: dict[str, object] = {}
ALIASES: dict[str, str] = {
    # createUDFs.sql aliases
    "st_geometryfromtext": "st_geomfromwkt",
    "st_box2dfromgeohash": "st_geomfromgeohash",
    "st_idlsafegeom": "st_antimeridiansafegeom",
    "st_isclosed": "st_icclosed",  # reference SQL name carries the typo
    "st_geohash": "st_asgeohash",
}


def _reg(name: str, udf, *kinds) -> None:
    """Add ``udf`` to the table; ``kinds`` declares the argument kinds of
    a hand-written UDF (a built one carries its own)."""
    if kinds:
        udf.kinds = kinds
    SPEC[name.lower()] = udf


def _series(vals) -> pd.Series:
    return pd.Series(vals, dtype=object)


def _box(xmin, ymin, xmax, ymax) -> Polygon:
    return Polygon([[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]])


# ---------------------------------------------------------------------------
# constructors
# ---------------------------------------------------------------------------


def _wkt_or_none(v):
    try:
        return from_wkt(v)
    except Exception:
        return None


def _wkb_or_none(v):
    try:
        return from_wkb(bytes(v))
    except Exception:
        return None


def _of_type(parse, geom_type: str):
    """``parse`` narrowed to one geometry type; another type is NULL."""

    def kernel(v):
        g = parse(v)
        return g if g is not None and g.geom_type == geom_type else None

    return kernel


def _geojson_wkb(v):
    try:
        return to_wkb(from_geojson(v))
    except Exception:
        return None


_reg("st_geomfromwkt", st_udf(_wkt_or_none, [TEXT], BIN))
for _name, _type in (
    ("st_pointfromtext", "Point"),
    ("st_linefromtext", "LineString"),
    ("st_polygonfromtext", "Polygon"),
    ("st_mlinefromtext", "MultiLineString"),
    ("st_mpointfromtext", "MultiPoint"),
    ("st_mpolyfromtext", "MultiPolygon"),
):
    _reg(_name, st_udf(_of_type(_wkt_or_none, _type), [TEXT], BIN))
# the WKB re-encode is canonical little-endian
_reg("st_geomfromwkb", st_udf(_wkb_or_none, [BYTES], BIN))
_reg("st_pointfromwkb", st_udf(_of_type(_wkb_or_none, "Point"), [BYTES], BIN))
_reg("st_geomfromgeojson", st_udf(_geojson_wkb, [TEXT], BIN))
_reg(
    "st_geomfromgeohash",
    st_udf(lambda v, bits: _box(*geohash.decode_bbox(v, int(bits))), [TEXT, NUM], BIN),
)
_reg(
    "st_pointfromgeohash",
    st_udf(lambda v, bits: Point([geohash.decode_point(v, int(bits))]), [TEXT, NUM], BIN),
)


def _make_point(x: pd.Series, y: pd.Series) -> pd.Series:
    xs = numeric_series(x)
    ys = numeric_series(y)
    wkbs = points_to_wkb_array(xs, ys)
    bad = np.isnan(xs) | np.isnan(ys)
    out = pd.Series(wkbs, dtype=object)
    out[bad] = None
    return out


# hand-written: one vectorized WKB encode for the whole batch
_reg("st_makepoint", pandas_udf(_make_point, BIN), NUM, NUM)
_reg(
    "st_makepointm",
    st_udf(lambda x, y, m: Point([[x, y, m]], has_m=True), [NUM, NUM, NUM], BIN),
)


def _make_line(arr: pd.Series) -> pd.Series:
    out = []
    for pts in arr:
        if pts is None:
            out.append(None)
            continue
        coords = []
        ok = True
        for b in pts:
            if b is None:
                ok = False
                break
            g = from_wkb(bytes(b))
            if g.geom_type != "Point" or g.is_empty:
                ok = False
                break
            coords.append([g.x, g.y])
        if not ok or len(coords) < 2:
            out.append(None)
        else:
            out.append(to_wkb(LineString(coords)))
    return _series(out)


# hand-written: the argument is an array of points
_reg("st_makeline", pandas_udf(_make_line, BIN), GEOMS)


def _make_polygon_fn(g: Geometry):
    if g.geom_type != "LineString" or g.is_empty:
        return None
    c = g.coords
    if not np.all(c[0, :2] == c[-1, :2]):
        c = np.vstack([c, c[:1]])
    if c.shape[0] < 4:
        return None
    return Polygon(c)


def _make_box2d(g1: Geometry, g2: Geometry):
    if g1.is_empty or g2.is_empty:
        return None
    return _box(min(g1.x, g2.x), min(g1.y, g2.y), max(g1.x, g2.x), max(g1.y, g2.y))


_reg("st_makepolygon", st_udf(_make_polygon_fn, [GEOM], BIN))
_reg("st_makebbox", st_udf(_box, [NUM, NUM, NUM, NUM], BIN))
_reg("st_makebox2d", st_udf(_make_box2d, [GEOM, GEOM], BIN))
_reg("st_bytearray", st_udf(lambda v: v.encode("utf-8"), [TEXT], BIN))


# ---------------------------------------------------------------------------
# accessors
# ---------------------------------------------------------------------------

_reg("st_boundary", st_udf(alg.boundary, [GEOM], BIN))
_reg("st_envelope", st_udf(alg.envelope, [GEOM], BIN))
_reg(
    "st_coorddim",
    st_udf(lambda g: int(2 + g.has_z + g.has_m), [GEOM], T.IntegerType()),
)
_reg(
    "st_dimension",
    st_udf(lambda g: int(g.dimension) if g.dimension >= 0 else 0, [GEOM], T.IntegerType()),
)
_reg(
    "st_exteriorring",
    st_udf(
        lambda g: LineString(g.shell)
        if g.geom_type == "Polygon" and not g.is_empty
        else None,
        [GEOM],
        BIN,
    ),
)


def _geometry_n(g: Geometry, n: float):
    i = int(n) - 1  # OGC 1-based
    parts = g.geometries()
    if 0 <= i < len(parts):
        return parts[i]
    return None


def _interior_ring_n(g: Geometry, n: float):
    i = int(n) - 1
    if g.geom_type == "Polygon" and 0 <= i < len(g.holes):
        return LineString(g.holes[i])
    return None


def _point_n(g: Geometry, n: float):
    if g.geom_type != "LineString" or g.is_empty:
        return None
    i = int(n)
    npts = g.coords.shape[0]
    if i < 0:
        i = npts + i + 1
    if 1 <= i <= npts:
        return Point([g.coords[i - 1, :2]])
    return None


_reg("st_geometryn", st_udf(_geometry_n, [GEOM, NUM], BIN))
_reg("st_interiorringn", st_udf(_interior_ring_n, [GEOM, NUM], BIN))
_reg("st_pointn", st_udf(_point_n, [GEOM, NUM], BIN))

_reg(
    "st_icclosed",  # sic: reference createUDFs.sql:43 registers the typo'd name
    st_udf(
        lambda g: bool(g.is_closed) if g.geom_type == "LineString" else True,
        [GEOM],
        T.BooleanType(),
    ),
)
_reg(
    "st_iscollection",
    st_udf(
        lambda g: g.geom_type
        in ("MultiPoint", "MultiLineString", "MultiPolygon", "GeometryCollection"),
        [GEOM],
        T.BooleanType(),
    ),
)
_reg("st_isempty", st_udf(lambda g: bool(g.is_empty), [GEOM], T.BooleanType()))
_reg(
    "st_isring",
    st_udf(
        lambda g: bool(g.is_ring) if g.geom_type == "LineString" else None,
        [GEOM],
        T.BooleanType(),
    ),
)
_reg("st_issimple", st_udf(lambda g: bool(alg.is_simple(g)), [GEOM], T.BooleanType()))


def _is_valid(g: Geometry) -> bool:
    t = g.geom_type
    if t in ("Point", "MultiPoint") or g.is_empty:
        return True
    if t in ("LineString", "MultiLineString"):
        return all(p.coords.shape[0] != 1 for p in g.geometries())
    if t in ("Polygon", "MultiPolygon"):
        for p in g.geometries():
            if p.is_empty:
                continue
            for r in p.rings:
                if r.shape[0] < 4 or not np.all(r[0, :2] == r[-1, :2]):
                    return False
                if not alg.is_simple(LineString(r)):
                    return False
            eps = alg._EPS * alg._scale(p)
            shell = Polygon(p.shell)
            for h in p.holes:
                mid = alg._interior_point(Polygon(h))
                if mid is not None and alg._point_polygon_side(mid[0], mid[1], shell, eps) != 1:
                    return False
        return True
    return all(_is_valid(p) for p in g.geometries())


_reg("st_isvalid", st_udf(_is_valid, [GEOM], T.BooleanType()))
_reg(
    "st_numgeometries",
    st_udf(lambda g: int(len(g.geometries())), [GEOM], T.IntegerType()),
)
_reg(
    "st_numpoints",
    st_udf(lambda g: int(alg.all_coords(g).shape[0]), [GEOM], T.IntegerType()),
)


def _xy_udf(idx: int):
    # reference returns float32 (ST_X.scala:25) — match for hash parity
    def fn(g):
        if g.geom_type == "Point" and not g.is_empty:
            return float(np.float32(g.coords[0, idx]))
        return None

    return st_udf(fn, [GEOM], T.FloatType(), points=lambda *xy: xy[idx].astype(np.float32))


_reg("st_x", _xy_udf(0))
_reg("st_y", _xy_udf(1))


# ---------------------------------------------------------------------------
# predicates (polymorphic Extent|Geometry like the index module)
# ---------------------------------------------------------------------------


def _extent_cols(df: pd.DataFrame):
    return (
        df.iloc[:, 0].to_numpy(dtype=np.float64, na_value=np.nan),
        df.iloc[:, 1].to_numpy(dtype=np.float64, na_value=np.nan),
        df.iloc[:, 2].to_numpy(dtype=np.float64, na_value=np.nan),
        df.iloc[:, 3].to_numpy(dtype=np.float64, na_value=np.nan),
    )


def _extents_to_geoms(df: pd.DataFrame) -> list[Geometry | None]:
    xmin, ymin, xmax, ymax = _extent_cols(df)
    out = []
    for a, b, c, d in zip(xmin, ymin, xmax, ymax):
        if math.isnan(a) or math.isnan(b) or math.isnan(c) or math.isnan(d):
            out.append(None)
        else:
            out.append(Polygon([[a, b], [c, b], [c, d], [a, d], [a, b]]))
    return out


def _point_extents_xy(df: pd.DataFrame):
    """(x, y) of an extent batch whose every non-null extent is
    degenerate (xmin == xmax and ymin == ymax — the bbox of a point),
    NaN x for a null extent; None if any extent has area or length."""
    xmin, ymin, xmax, ymax = _extent_cols(df)
    null = np.isnan(xmin) | np.isnan(ymin) | np.isnan(xmax) | np.isnan(ymax)
    if not (null | ((xmin == xmax) & (ymin == ymax))).all():
        return None
    return np.where(null, np.nan, xmin), ymin


def _tight_bbox_intersects(a_cols, b_cols):
    ax0, ay0, ax1, ay1 = a_cols
    bx0, by0, bx1, by1 = b_cols
    ok = (ax0 <= bx1) & (ax1 >= bx0) & (ay0 <= by1) & (ay1 >= by0)
    return ok, np.isnan(ax0) | np.isnan(bx0)


def _bbox_contains(a_cols, b_cols):
    ax0, ay0, ax1, ay1 = a_cols
    bx0, by0, bx1, by1 = b_cols
    ok = (ax0 <= bx0) & (ay0 <= by0) & (ax1 >= bx1) & (ay1 >= by1)
    return ok, np.isnan(ax0) | np.isnan(bx0)


# the first five WKB bytes (byte order + type) of a 2-D polygon or
# multipolygon, in both byte orders
_AREAL_HEADERS = frozenset(
    bytes([order]) + t.to_bytes(4, "little" if order else "big") for order in (0, 1) for t in (3, 6)
)


def _poly_predicate_udf(fn, extent_extent_fn, pip_includes_boundary: bool | None):
    """Polymorphic (Extent|Geometry, Extent|Geometry) → Boolean.

    - extent/extent: vectorized numpy bbox comparison (tight form — the
      reference's loosened OR-form is documented-divergent, SURVEY §4.1 ⚠️)
    - point-batch vs constant geometry: vectorized PIP
    - extent-batch vs constant geometry, intersects/disjoint only: when
      every non-null extent of the batch is degenerate (xmin == xmax and
      ymin == ymax — the bbox of a point), the same vectorized PIP on
      (xmin, ymin); a batch with any other extent takes the per-row path
    - point-batch vs varying geometry: the rows grouped by the other
      side's WKB, one vectorized PIP per distinct polygon
      (``_by_polygon``); the rows it leaves take the per-row path
    - general: per-row DE-9IM via the kernel
    """

    def impl(a: pd.Series, b: pd.Series) -> pd.Series:
        a_ext = isinstance(a, pd.DataFrame)
        b_ext = isinstance(b, pd.DataFrame)
        if a_ext and b_ext and extent_extent_fn is not None:
            ok, isnull = extent_extent_fn(_extent_cols(a), _extent_cols(b))
            out = pd.Series(ok, dtype=object)
            out[isnull] = None
            return out
        res = grouped = None
        parse = parse_cache()
        if a_ext != b_ext and fn.__name__ in ("intersects", "disjoint"):
            ext, const = (a, b) if a_ext else (b, a)
            res = _vec_const(lambda: _point_extents_xy(ext), const, swapped=b_ext)
        # vectorized points-vs-constant fast path (binary/binary only)
        elif not a_ext and not b_ext and pip_includes_boundary is not None:
            res = _vec_points_const(a, b, swapped=False)
            if res is None:
                res = _vec_points_const(b, a, swapped=True)
            if res is None:
                grouped = _by_polygon(a, b, False, parse) or _by_polygon(b, a, True, parse)
        if res is not None:
            return res
        if grouped is None:
            return _series(_per_pair(a, b, parse))
        out, done = grouped
        rest = np.flatnonzero(~done)
        if len(rest):
            out[rest] = _per_pair(a.iloc[rest], b.iloc[rest], parse)
        return pd.Series(out, dtype=object)

    def _per_pair(a, b, parse) -> list:
        """The kernel's answer for each row, NULL where either side is."""
        ga = _extents_to_geoms(a) if isinstance(a, pd.DataFrame) else [parse(v) for v in a]
        gb = _extents_to_geoms(b) if isinstance(b, pd.DataFrame) else [parse(v) for v in b]
        return [None if x is None or y is None else bool(fn(x, y)) for x, y in zip(ga, gb)]

    def _by_polygon(pts_side: pd.Series, other_side: pd.Series, swapped: bool, parse):
        """predicate(points, other) (or swapped) where the other side
        varies: the rows grouped by the other side's WKB, each distinct
        polygon decoded once (by ``parse``, which the per-row path
        shares) and tested against its points by one ``_vec_eval``.
        ``(values, done)`` as object and bool arrays; ``done`` is False
        on the rows left to the per-row kernel, which the vectorized
        test would not match: a NULL or non-finite point, a point larger
        in magnitude than the polygon's coordinates (the pair's eps would
        no longer be the polygon's), and a polygon that does not decode
        or has no vectorized form, or none of whose points lies in its
        bbox. None, before any point is decoded, when the other side
        holds no 2-D polygon, and when the points side is not all plain
        2-D points."""
        if fn.__name__ == "within" and swapped:
            return None  # an areal geometry within points: no vectorized form
        keys: dict[bytes, int] = {}
        rows_of: list[list[int]] = []
        gid = np.full(len(other_side), -1)
        for i, v in enumerate(other_side.to_numpy(dtype=object)):
            if v is not None and bytes(v[:5]) in _AREAL_HEADERS:
                k = gid[i] = keys.setdefault(bytes(v), len(keys))
                if k == len(rows_of):
                    rows_of.append([])
                rows_of[k].append(i)
        if not keys:
            return None
        fp = wkb_array_to_points(pts_side.to_numpy(dtype=object))
        if fp is None:
            return None
        x, y = fp
        geoms, bounds = [], np.full((len(keys), 4), np.nan)
        for k, key in enumerate(keys):
            try:
                geoms.append(parse(key))
                bounds[k] = geoms[k].bounds
            except (ValueError, struct.error):
                geoms.append(None)  # malformed: the per-row path raises it in row order
        # per row, its polygon's bbox (NaN: not grouped, empty or malformed)
        b = np.where((gid >= 0)[:, None], bounds[gid], np.nan)
        with np.errstate(invalid="ignore"):
            inside = (x >= b[:, 0]) & (x <= b[:, 2]) & (y >= b[:, 1]) & (y <= b[:, 3])
            near = np.isfinite(x) & np.isfinite(y) & (np.maximum(np.abs(x), np.abs(y)) <= np.abs(b).max(axis=1))
        out = np.full(len(x), None, dtype=object)
        done = np.zeros(len(x), dtype=bool)
        # a polygon none of whose points lies in its bbox leaves them to
        # the kernel, whose bbox test rejects each cheaper than a call here
        for k in np.unique(gid[inside]):
            rows = np.asarray(rows_of[k])
            rows = rows[near[rows]]
            vals = _vec_eval(x[rows], y[rows], geoms[k], swapped)
            if vals is not None:
                out[rows] = vals
                done[rows] = True
        return out, done

    def _vec_points_const(pts_side: pd.Series, const_side: pd.Series, swapped: bool):
        return _vec_const(
            lambda: wkb_array_to_points(pts_side.to_numpy(dtype=object)), const_side, swapped
        )

    def _vec_const(xy, const_side: pd.Series, swapped: bool):
        """predicate(points, const) for a batch whose other side is one
        constant geometry. ``xy()`` gives the points as (x, y) arrays (NaN
        x: a NULL point), or None when they are not all points. None when
        the other side varies or the predicate has no vectorized form."""
        first = None
        cv = const_side.to_numpy(dtype=object)
        for v in cv:
            if v is not None:
                fb = bytes(v)
                if first is None:
                    first = fb
                elif fb != first:
                    return None
        if first is None:
            return _series([None] * len(cv))
        fp = xy()
        if fp is None:
            return None
        x, y = fp
        vals = _vec_eval(x, y, from_wkb(first), swapped)
        if vals is None:
            return None
        out = pd.Series(vals, dtype=object)
        nulls = np.isnan(x)
        for i, v in enumerate(cv):
            if v is None:
                nulls[i] = True
        out[nulls] = None
        return out

    def _vec_eval(x, y, const_g: Geometry, swapped: bool):
        """Evaluate predicate(points, const) or predicate(const, points)."""
        name = fn.__name__
        if name == "intersects" or name == "disjoint":
            r = alg.points_in_polygon_vec(x, y, const_g) if const_g.dimension == 2 else None
            if r is None:
                return None
            return ~r if name == "disjoint" else r
        if name in ("contains", "covers") and swapped is False and const_g.dimension == 2:
            # points contain/cover an areal geometry: never
            return np.zeros(len(x), dtype=bool)
        if name in ("contains", "covers") and swapped and const_g.dimension == 2:
            # const contains point: strict interior for contains
            return alg.points_in_polygon_vec(x, y, const_g, include_boundary=(name == "covers"))
        if name == "within" and swapped is False and const_g.dimension == 2:
            return alg.points_in_polygon_vec(x, y, const_g, include_boundary=False)
        return None


    # hand-written: either argument may be an extent struct, and the
    # point-batch and extent-batch paths test against one constant
    udf = pandas_udf(impl, T.BooleanType())
    udf.kinds = (GEOM, GEOM)
    return udf


_reg(
    "st_intersects",
    _poly_predicate_udf(alg.intersects, _tight_bbox_intersects, True),
)
_reg("st_contains", _poly_predicate_udf(alg.contains, _bbox_contains, True))
_reg(
    "st_within",
    _poly_predicate_udf(alg.within, lambda a, b: _bbox_contains(b, a), True),
)
_reg("st_covers", _poly_predicate_udf(alg.covers, _bbox_contains, True))
_reg(
    "st_disjoint",
    _poly_predicate_udf(
        alg.disjoint,
        lambda a, b: (lambda ok, n: (~ok, n))(*_tight_bbox_intersects(a, b)),
        True,
    ),
)


for _name, _fn in (
    ("st_crosses", alg.crosses),
    ("st_equals", alg.equals),
    ("st_overlaps", alg.overlaps),
    ("st_touches", alg.touches),
):
    _reg(_name, _poly_predicate_udf(_fn, None, None))


_reg("st_relate", st_udf(alg.relate, [GEOM, GEOM], T.StringType()))
_reg(
    "st_relatebool",
    st_udf(lambda a, b, p: bool(alg.relate_pattern(a, b, p)), [GEOM, GEOM, TEXT], T.BooleanType()),
)


# ---------------------------------------------------------------------------
# measures
# ---------------------------------------------------------------------------

_reg("st_area", st_udf(lambda g: float(alg.area(g)), [GEOM], T.DoubleType()))
_reg("st_length", st_udf(lambda g: float(alg.length(g)), [GEOM], T.DoubleType()))
_reg("st_centroid", st_udf(alg.centroid, [GEOM], BIN))
_reg("st_closestpoint", st_udf(alg.closest_point, [GEOM, GEOM], BIN))


# linear referencing (round 14, geom/linear.py — the PostGIS
# ST_LineInterpolatePoint / ST_LineLocatePoint / ST_LineSubstring
# trio; beyond the reference surface, whose measures stop at
# length/distance/closestPoint, spatial/.../package.scala). Planar
# fractions of cartesian length, clamped to [0, 1]; null-in→null-out;
# non-LineString inputs yield NULL (not an error — the SQL-surface
# convention for type-mismatched geometry args).


def _is_line(g: Geometry) -> bool:
    return g.geom_type == "LineString" and not g.is_empty


def _line_interpolate(g: Geometry, f: float):
    return Point(np.array([lin.line_interpolate_point(g.coords, f)])) if _is_line(g) else None


def _line_locate(g: Geometry, p: Geometry):
    if not _is_line(g) or p.geom_type != "Point" or p.is_empty:
        return None
    return float(lin.line_locate_point(g.coords, p.coords[0]))


def _line_substring(g: Geometry, f0: float, f1: float):
    return LineString(lin.line_substring(g.coords, f0, f1)) if _is_line(g) else None


def _segmentize_geom(g, d):
    t = g.geom_type
    if t == "Point" or g.is_empty:
        return g
    if t == "LineString":
        return LineString(lin.segmentize_coords(g.coords, d))
    if t == "Polygon":
        return Polygon(
            lin.segmentize_coords(g.shell, d),
            [lin.segmentize_coords(h, d) for h in g.holes],
        )
    if t in ("MultiPoint",):
        return g
    if t in ("MultiLineString", "MultiPolygon", "GeometryCollection"):
        return type(g)([_segmentize_geom(p_, d) for p_ in g.geoms])
    return g


_reg("st_segmentize", st_udf(_segmentize_geom, [GEOM, NUM], BIN))
_reg("st_lineinterpolatepoint", st_udf(_line_interpolate, [GEOM, NUM], BIN))
_reg("st_linelocatepoint", st_udf(_line_locate, [GEOM, GEOM], T.DoubleType()))
_reg("st_linesubstring", st_udf(_line_substring, [GEOM, NUM, NUM], BIN))


# Point-to-point measures: the kernel on any pair, and on an all-points
# batch the same measure on the coordinate arrays.
_reg(
    "st_distance",
    st_udf(
        lambda a, b: float(alg.distance(a, b)),
        [GEOM, GEOM],
        T.DoubleType(),
        points=lambda ax, ay, bx, by: np.hypot(ax - bx, ay - by),
    ),
)


def _dwithin_udf(a: pd.Series, b: pd.Series, d: pd.Series) -> pd.Series:
    """st_dwithin(a, b, distance) — PostGIS ST_DWithin (beyond the
    reference's 78 names, which stop at scalar st_distance): planar
    distance ≤ d, polymorphic over Extent|Geometry like the predicate
    family, null-in→null-out. The SQL-string optimizer recognizes the
    st_makePoint literal form and prepends a pushable bbox prefilter
    (operators/spatial_sql.py)."""
    ga = _extents_to_geoms(a) if isinstance(a, pd.DataFrame) else None
    gb = _extents_to_geoms(b) if isinstance(b, pd.DataFrame) else None
    parse = parse_cache()
    if ga is None:
        ga = [parse(v) for v in a]
    if gb is None:
        gb = [parse(v) for v in b]
    dv = pd.to_numeric(d, errors="coerce")
    return _series(
        [
            None if x is None or y is None or pd.isna(dd)
            else bool(float(alg.distance(x, y)) <= float(dd))
            for x, y, dd in zip(ga, gb, dv)
        ]
    )


# hand-written: either argument may be an extent struct
_reg("st_dwithin", pandas_udf(_dwithin_udf, T.BooleanType()), GEOM, GEOM, NUM)


def _distance_spheroid(a: Geometry, b: Geometry):
    """True WGS84 ellipsoidal distance (Vincenty inverse, fixed
    iterations — geom/geodesy.py vincenty_m). Until round 6 this name
    aliased the SPHERE kernel, a silent ≤0.5% wrong answer vs the
    PostGIS ST_DistanceSpheroid semantics the name promises. Non-point
    geometries measure between the planar closest points, the same
    convention distance_sphere documents."""
    if a.is_empty or b.is_empty:
        return None
    if alg.intersects(a, b):
        return 0.0
    _, ax, ay = alg._closest_pair(a, b)
    _, bx, by = alg._closest_pair(b, a)
    return float(geodesy.vincenty_m(
        np.array([ax]), np.array([ay]), np.array([bx]), np.array([by]))[0])


_reg(
    "st_distancespheroid",
    st_udf(_distance_spheroid, [GEOM, GEOM], T.DoubleType(), points=geodesy.vincenty_m),
)
_reg(
    "st_distancesphere",
    st_udf(
        lambda a, b: float(geodesy.distance_sphere(a, b)),
        [GEOM, GEOM],
        T.DoubleType(),
        points=geodesy.haversine_m,
    ),
)
_reg(
    "st_lengthsphere",
    st_udf(lambda g: float(geodesy.length_sphere(g)), [GEOM], T.DoubleType()),
)
_reg(
    "st_lengthspheroid",
    st_udf(lambda g: float(geodesy.length_spheroid(g)), [GEOM], T.DoubleType()),
)
# round 13: WGS84 ellipsoidal polygon area in m² (PostGIS geography
# ST_Area's role — the one commonly-hit geography measure with no
# counterpart until now; reference st_area is planar JTS). Plate-carrée
# edge semantics, exact on meridian/parallel quadrangles.
_reg(
    "st_areaspheroid",
    st_udf(lambda g: float(geodesy.area_spheroid(g)), [GEOM], T.DoubleType()),
)


# PostGIS-style spherical forward azimuth in RADIANS clockwise from north,
# NULL for coincident points (PostGIS returns NULL when the points are
# equal): the closed-form
# atan2(sin Δλ·cos φ2, cos φ1·sin φ2 − sin φ1·cos φ2·cos Δλ),
# normalized to [0, 2π).


def _azimuth(a: Geometry, b: Geometry):
    if a.geom_type != "Point" or b.geom_type != "Point" or a.is_empty or b.is_empty:
        return None
    (ax, ay), (bx, by) = a.coords[0], b.coords[0]
    if ax == bx and ay == by:
        return None
    dl = math.radians(bx - ax)
    az = math.atan2(
        math.sin(dl) * math.cos(math.radians(by)),
        math.cos(math.radians(ay)) * math.sin(math.radians(by))
        - math.sin(math.radians(ay)) * math.cos(math.radians(by))
        * math.cos(dl),
    )
    return az + 2.0 * math.pi if az < 0.0 else az


def _azimuth_points(ax, ay, bx, by):
    l1, p1 = np.radians(ax), np.radians(ay)
    l2, p2 = np.radians(bx), np.radians(by)
    dl = l2 - l1
    az = np.arctan2(
        np.sin(dl) * np.cos(p2),
        np.cos(p1) * np.sin(p2) - np.sin(p1) * np.cos(p2) * np.cos(dl),
    )
    az = np.where(az < 0.0, az + 2.0 * math.pi, az)
    return np.where((ax == bx) & (ay == by), np.nan, az)


_reg("st_azimuth", st_udf(_azimuth, [GEOM, GEOM], T.DoubleType(), points=_azimuth_points))
_reg("st_difference", st_udf(clip_mod.difference, [GEOM, GEOM], BIN))
_reg("st_intersection", st_udf(clip_mod.intersection, [GEOM, GEOM], BIN))
_reg("st_translate", st_udf(alg.translate, [GEOM, NUM, NUM], BIN))


# ---------------------------------------------------------------------------
# processing
# ---------------------------------------------------------------------------


def _antimeridian_safe(g: Geometry) -> Geometry:
    xmin, _, xmax, _ = g.bounds
    if math.isnan(xmin) or (xmin >= -180.0 and xmax <= 180.0):
        return g
    world = Polygon([[-180, -90], [180, -90], [180, 90], [-180, 90], [-180, -90]])
    east = Polygon([[180, -90], [540, -90], [540, 90], [180, 90], [180, -90]])
    west = Polygon([[-540, -90], [-180, -90], [-180, 90], [-540, 90], [-540, -90]])
    parts: list[Geometry] = []
    core = clip_mod.intersection(g, world)
    if not core.is_empty:
        parts.extend(p for p in core.geometries() if not p.is_empty)
    for box, shift in ((east, -360.0), (west, 360.0)):
        piece = clip_mod.intersection(g, box)
        if not piece.is_empty:
            parts.extend(
                alg.translate(p, shift, 0.0)
                for p in piece.geometries()
                if not p.is_empty
            )
    if not parts:
        return g
    if len(parts) == 1:
        return parts[0]
    if all(p.geom_type == "Polygon" for p in parts):
        return MultiPolygon(parts)
    if all(p.geom_type == "LineString" for p in parts):
        return MultiLineString(parts)
    return GeometryCollection(parts)


def _buffer_point(g: Geometry, r: float):
    if g.geom_type != "Point" or g.is_empty:
        return None
    return geodesy.buffer_point(g, r)


_reg("st_antimeridiansafegeom", st_udf(_antimeridian_safe, [GEOM], BIN))
_reg("st_bufferpoint", st_udf(_buffer_point, [GEOM, NUM], BIN))
_reg(
    "st_simplify",
    st_udf(lambda g, t: alg.simplify(g, t, preserve_topology=False), [GEOM, NUM], BIN),
)
_reg(
    "st_simplifypreservetopology",
    st_udf(lambda g, t: alg.simplify(g, t, preserve_topology=True), [GEOM, NUM], BIN),
)


# ---------------------------------------------------------------------------
# output / encodings
# ---------------------------------------------------------------------------

_reg("st_astext", st_udf(to_wkt, [GEOM], T.StringType()))
_reg("st_asbinary", st_udf(to_wkb, [GEOM], BIN))
_reg("st_astwkb", st_udf(twkb.to_twkb, [GEOM], BIN))
_reg("st_asgeojson", st_udf(to_geojson, [GEOM], T.StringType()))


def _dms(value: float, pos: str, neg: str) -> str:
    hemi = pos if value >= 0 else neg
    v = abs(value)
    d = int(v)
    m = int((v - d) * 60)
    s = (v - d - m / 60) * 3600
    return f"{d}°{m}'{s:.3f}\"{hemi}"


def _as_latlon_text(g: Geometry):
    if g.geom_type != "Point" or g.is_empty:
        return None
    return f"{_dms(g.y, 'N', 'S')} {_dms(g.x, 'E', 'W')}"


def _as_geohash(g: Geometry, bits: float):
    if g.is_empty:
        return None
    ip = (g.x, g.y) if g.geom_type == "Point" else alg._interior_point(g)
    return None if ip is None else geohash.encode(ip[1], ip[0], int(bits))


_reg("st_aslatlontext", st_udf(_as_latlon_text, [GEOM], T.StringType()))
_reg("st_asgeohash", st_udf(_as_geohash, [GEOM, NUM], T.StringType()))


# ---------------------------------------------------------------------------
# casts
# ---------------------------------------------------------------------------

_reg("st_casttogeometry", st_udf(lambda g: g, [GEOM], BIN))
_reg("st_casttopoint", st_udf(lambda g: g if g.geom_type == "Point" else None, [GEOM], BIN))
_reg(
    "st_casttolinestring",
    st_udf(lambda g: g if g.geom_type == "LineString" else None, [GEOM], BIN),
)
_reg("st_casttopolygon", st_udf(lambda g: g if g.geom_type == "Polygon" else None, [GEOM], BIN))


def _is_geom_field(s: pd.Series) -> pd.Series:
    """Is the value a geometry (WKB bytes) or a WKT-parseable string?

    Reference UDTF ``ST_IsGeomField`` (``spatial/.../ST_IsGeomField.scala:31-38``):
    Geometry → TRUE, WKT-parseable string → TRUE, anything else (incl.
    null) → FALSE. Registered in ``createUDFs.sql:46``; here a scalar so
    ``SELECT st_isGeomField(col)`` works per-value (the row-mapping UDTF
    shape is covered by ``operators.is_geom_field(df)``)."""
    out = []
    for v in s:
        if v is None:
            out.append(False)
            continue
        try:
            if isinstance(v, (bytes, bytearray)):
                out.append(from_wkb(bytes(v)) is not None)
            elif isinstance(v, str):
                out.append(from_wkt(v) is not None)
            else:
                out.append(False)
        except Exception:
            out.append(False)
    return _series(out)


# hand-written: a NULL argument gives FALSE, not NULL
_reg("st_isgeomfield", pandas_udf(_is_geom_field, T.BooleanType()), TEXT)


# ---------------------------------------------------------------------------
# spatial-index module (SURVEY §2.3)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class SqlFunction:
    """A function registered as a Spark SQL body rather than a Python UDF:
    Spark inlines it as an expression, so it stays inside whole-stage
    codegen and composes with the pushdown rewrites."""

    params: str
    returns: str
    body: str
    kinds: tuple

    def ddl(self, name: str) -> str:
        return (
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({self.params}) "
            f"RETURNS {self.returns} RETURN {self.body}"
        )


# pure arithmetic; the CASE keeps null-in→null-out (a bare named_struct
# of NULL arguments is a struct of NULL fields, not NULL)
_reg(
    "st_makeextent",
    SqlFunction(
        "xmin DOUBLE, ymin DOUBLE, xmax DOUBLE, ymax DOUBLE",
        "STRUCT<xmin: DOUBLE, ymin: DOUBLE, xmax: DOUBLE, ymax: DOUBLE>",
        "CASE WHEN xmin IS NULL OR ymin IS NULL OR xmax IS NULL OR ymax IS NULL THEN NULL "
        "ELSE named_struct('xmin', xmin, 'ymin', ymin, 'xmax', xmax, 'ymax', ymax) END",
        (NUM, NUM, NUM, NUM),
    ),
)


def _bounds_of(vals) -> np.ndarray:
    """(n, 4) bounds of a WKB batch, NaN rows for NULL or empty."""
    fp = wkb_array_to_points(vals)
    if fp is not None:
        x, y = fp
        return np.column_stack([x, y, x, y])
    parse = parse_cache()
    rows = []
    for b in vals:
        g = parse(b)
        if g is None or g.is_empty:
            rows.append((np.nan, np.nan, np.nan, np.nan))
        else:
            rows.append(g.bounds)
    return np.asarray(rows, dtype=np.float64)


def _extent_from_geom(s: pd.Series) -> pd.DataFrame:
    a = _bounds_of(s.to_numpy(dtype=object))
    return pd.DataFrame({"xmin": a[:, 0], "ymin": a[:, 1], "xmax": a[:, 2], "ymax": a[:, 3]})


# hand-written: the struct result is built from one bounds array
_reg("st_extentfromgeom", pandas_udf(_extent_from_geom, EXTENT_TYPE), GEOM)


def _extent_to_geom(df: pd.Series) -> pd.Series:
    xmin, ymin, xmax, ymax = _extent_cols(df)
    return _series([None if math.isnan(a) else to_wkb(_box(a, b, c, d))
                    for a, b, c, d in zip(xmin, ymin, xmax, ymax)])


# hand-written: the argument is an extent struct
_reg("st_extenttogeom", pandas_udf(_extent_to_geom, BIN), EXTENT)


_CRS_PROJ4 = {
    "EPSG:4326": "+proj=longlat +datum=WGS84 +no_defs",
    "EPSG:3857": "+proj=merc +a=6378137 +b=6378137 +lat_ts=0 +lon_0=0 +x_0=0 +y_0=0 +k=1 +units=m +nadgrids=@null +wktext +no_defs",
}


def _crs_from_text(v: str) -> str:
    v = v.strip()
    return v if v.startswith("+") else _CRS_PROJ4.get(v.upper(), v)


_reg("st_crsfromtext", st_udf(_crs_from_text, [TEXT], T.StringType()))

_R_MAJOR = 6378137.0


def _reproject_coords(c: np.ndarray, from_ll: bool) -> np.ndarray:
    out = c.copy()
    if from_ll:  # lon/lat -> web mercator
        out[:, 0] = np.radians(c[:, 0]) * _R_MAJOR
        out[:, 1] = np.log(np.tan(np.pi / 4 + np.radians(np.clip(c[:, 1], -89.9999, 89.9999)) / 2)) * _R_MAJOR
    else:  # web mercator -> lon/lat
        out[:, 0] = np.degrees(c[:, 0] / _R_MAJOR)
        out[:, 1] = np.degrees(2 * np.arctan(np.exp(c[:, 1] / _R_MAJOR)) - np.pi / 2)
    return out


def _transform_geom(g: Geometry, fn) -> Geometry:
    t = g.geom_type
    if t == "Point":
        return Point(fn(g.coords), has_z=g.has_z, has_m=g.has_m) if not g.is_empty else g
    if t == "LineString":
        return LineString(fn(g.coords), has_z=g.has_z, has_m=g.has_m)
    if t == "Polygon":
        if g.is_empty:
            return g
        return Polygon(fn(g.shell), [fn(h) for h in g.holes], has_z=g.has_z, has_m=g.has_m)
    return type(g)([_transform_geom(p, fn) for p in g.geoms], has_z=g.has_z, has_m=g.has_m)


# Reprojection routes through lon/lat: each parsed CRS (projections.parse_crs)
# gives an inverse (projected → lon/lat) and a forward (lon/lat → projected).
# A plain family calls proj.<family>_inverse/_forward with the parameters
# after its name; a datum family slices the parameters up to its +towgs84
# slot, whose value (when set) adds a Helmert shift on the family's
# ellipsoid; anything else is UTM (zone, north).
_PLAIN_FAMILIES = frozenset((
    "lcc", "aea", "eqdc", "laea", "stere", "sinu", "merc", "eqc", "moll",
    "eqearth", "cea", "wintri", "robin", "aeqd", "ortho", "eck4", "natearth",
    "gnom", "hammer", "mill", "vandg", "igh",
))
_TOWGS84_SLOT = {"tmerc": 8, "cass": 7, "poly": 7, "krovak": 10, "somerc": 8, "sterea": 8, "omerc": 11}


def _same(c):
    return c


def _projection(k):
    """(inverse, forward) coordinate functions of a parsed CRS ``k``."""
    fam = k[0]
    if fam == "longlat":
        return _same, _same
    if fam == "webmerc":
        return (lambda c: _reproject_coords(c, False)), (lambda c: _reproject_coords(c, True))
    if fam in _PLAIN_FAMILIES or fam in _TOWGS84_SLOT:
        inv, fwd = getattr(proj, fam + "_inverse"), getattr(proj, fam + "_forward")
        n = _TOWGS84_SLOT.get(fam, len(k))
        p, tw = k[1:n], k[n] if n < len(k) else None
        if tw is None:
            return (lambda c: inv(c, p)), (lambda c: fwd(c, p))
        a, e2 = k[1], k[2]
        return (
            lambda c: proj.datum_to_wgs84(inv(c, p), a, e2, tw),
            lambda c: fwd(proj.datum_from_wgs84(c, a, e2, tw), p),
        )
    return (lambda c: proj.utm_inverse(c, k[1], k[2])), (lambda c: proj.utm_forward(c, k[1], k[2]))


def _coord_fn(fk, tk):
    """Coordinate-transform function for a (parsed-from, parsed-to) CRS
    pair, routing through lon/lat as the hub."""
    if fk == tk:
        return _same
    to_ll, from_ll = _projection(fk)[0], _projection(tk)[1]
    return lambda c: from_ll(to_ll(c))


@functools.lru_cache(maxsize=64)
def _crs_pair_fn(fc: str, tc: str):
    """Raises ValueError for a CRS outside the supported registry — an
    unsupported *argument* is an error (silent nulls lose data
    invisibly), unlike a null *input*, which stays null-in→null-out."""
    return _coord_fn(proj.parse_crs(fc), proj.parse_crs(tc))


_reg(
    "st_geomreproject",
    st_udf(lambda g, fc, tc: _transform_geom(g, _crs_pair_fn(fc, tc)), [GEOM, TEXT, TEXT], BIN),
)


def _z2_latlon(s: pd.Series) -> pd.DataFrame:
    bb = _bounds_of(s.to_numpy(dtype=object))
    zmin, zmax = z2_mod.z2_latlon_range(bb[:, 0], bb[:, 1], bb[:, 2], bb[:, 3])
    bad = np.isnan(bb[:, 0])
    res = pd.DataFrame({"min": pd.array(zmin, dtype="Int64"), "max": pd.array(zmax, dtype="Int64")})
    res.loc[bad, "min"] = pd.NA
    res.loc[bad, "max"] = pd.NA
    return res


# hand-written: the struct result is built from one bounds array
_reg("st_z2latlon", pandas_udf(_z2_latlon, Z2_TYPE), GEOM)


def _partition_centroid(
    s: pd.Series,
    zoom: pd.Series,
    tile_size: pd.Series = None,
    bits: pd.Series = None,
    crs: pd.Series = None,
    res_threshold: pd.Series = None,
) -> pd.Series:
    """Full reference SQL arity (ST_PartitionCentroid.scala:27-51):
    (geom, zoom[, tileSize[, bits[, crs[, resolutionThreshold]]]]).
    Trailing args are optional exactly as in the reference's HUDF —
    Spark's Python worker calls the UDF with however many columns the
    SQL call supplied, so the Python defaults ARE the SQL defaults.
    tileSize (default 256) and resolutionThreshold (default 0.1) are
    accepted-but-inert, faithfully: in geotrellis the ZoomedLayoutScheme
    tile GRID at levelForZoom(zoom) depends only on zoom — tileSize
    sets pixel cell size and resolutionThreshold only steers
    levelFor(extent, cellSize), neither of which this key touches.
    bits (default 8) and crs (default lon/lat; 'EPSG:3857' switches to
    the square web-mercator pyramid) genuinely change the key."""
    bb = _bounds_of(s.to_numpy(dtype=object))
    cx = (bb[:, 0] + bb[:, 2]) / 2.0
    cy = (bb[:, 1] + bb[:, 3]) / 2.0
    zs = numeric_series(zoom)
    z = int(zs[~np.isnan(zs)][0]) if np.any(~np.isnan(zs)) else 0

    def _scalar_int(col, default):
        if col is None:
            return default
        v = numeric_series(col)
        ok = ~np.isnan(v)
        return int(v[ok][0]) if np.any(ok) else default

    ts = _scalar_int(tile_size, 256)
    nb = _scalar_int(bits, 8)
    crs_name = "EPSG:4326"
    if crs is not None:
        nonnull = crs.dropna()
        if len(nonnull):
            crs_name = str(nonnull.iloc[0])
    keys = z2_mod.partition_centroid_key(
        cx, cy, z, tile_size=ts, bits=nb, crs=crs_name
    )
    out = pd.Series(keys, dtype=object)
    out[np.isnan(cx) | np.isnan(zs)] = None
    return out


# hand-written: the zoom and trailing options are one scalar per batch
_reg("st_partitioncentroid", pandas_udf(_partition_centroid, T.LongType()), GEOM, NUM)
