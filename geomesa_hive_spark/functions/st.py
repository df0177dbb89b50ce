"""Every ST_* function of the reference, as Arrow-vectorized pandas UDFs.

Surface parity: the 78 SQL names of ``spatial/sql/createUDFs.sql:1-78``
plus the 9 index names of ``spatial-index/sql/createUDFs.sql:1-9``
(SURVEY.md §2.2-2.3). Geometry values are WKB bytes (BinaryType);
extents are ``struct<xmin,ymin,xmax,ymax:double>``; per-row semantics
follow JTS 1.18 via the numpy kernel.

The index-module ``st_intersects``/``st_contains`` polymorphism
(Extent|Geometry on either side — ``spatial-index/.../ST_Intersects.scala:26-44``)
is implemented by runtime dispatch on the Arrow batch type: a struct
column arrives as a pandas DataFrame, a binary column as a Series.
Extent-vs-extent comparisons run as pure numpy (no geometry objects);
point-vs-literal predicates run through the vectorized PIP kernel.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from geomesa_hive_spark.geom import algorithms as alg
from geomesa_hive_spark.geom import clip as clip_mod
from geomesa_hive_spark.geom import geodesy, geohash, twkb
from geomesa_hive_spark.geom.core import (
    Geometry,
    GeometryCollection,
    LineString,
    MultiLineString,
    MultiPoint,
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
    g2g_udf,
    g2scalar_udf,
    geoms_of,
    numeric_series,
    parse_cache,
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

SPEC: dict[str, object] = {}
ALIASES: dict[str, str] = {
    # createUDFs.sql aliases
    "st_geometryfromtext": "st_geomfromwkt",
    "st_box2dfromgeohash": "st_geomfromgeohash",
    "st_idlsafegeom": "st_antimeridiansafegeom",
    "st_isclosed": "st_icclosed",  # reference SQL name carries the typo
    "st_geohash": "st_asgeohash",
}


def _reg(name: str, udf) -> None:
    SPEC[name.lower()] = udf


def _series(vals) -> pd.Series:
    return pd.Series(vals, dtype=object)


# ---------------------------------------------------------------------------
# constructors
# ---------------------------------------------------------------------------


def _from_text_udf(caster=None):
    def impl(s: pd.Series) -> pd.Series:
        out = []
        for v in s:
            if v is None:
                out.append(None)
                continue
            try:
                g = from_wkt(v)
            except Exception:
                out.append(None)
                continue
            if caster is not None:
                g = caster(g)
            out.append(None if g is None else to_wkb(g))
        return _series(out)

    return pandas_udf(impl, T.BinaryType())


def _type_filter(*types):
    def cast(g):
        return g if g is not None and g.geom_type in types else None

    return cast


_reg("st_geomfromwkt", _from_text_udf())
_reg("st_pointfromtext", _from_text_udf(_type_filter("Point")))
_reg("st_linefromtext", _from_text_udf(_type_filter("LineString")))
_reg("st_polygonfromtext", _from_text_udf(_type_filter("Polygon")))
_reg("st_mlinefromtext", _from_text_udf(_type_filter("MultiLineString")))
_reg("st_mpointfromtext", _from_text_udf(_type_filter("MultiPoint")))
_reg("st_mpolyfromtext", _from_text_udf(_type_filter("MultiPolygon")))


def _geom_from_wkb(s: pd.Series) -> pd.Series:
    out = []
    for v in s:
        if v is None:
            out.append(None)
            continue
        try:
            g = from_wkb(bytes(v))
        except Exception:
            out.append(None)
            continue
        out.append(to_wkb(g))  # canonical little-endian re-encode
    return _series(out)


_reg("st_geomfromwkb", pandas_udf(_geom_from_wkb, T.BinaryType()))


def _point_from_wkb(s: pd.Series) -> pd.Series:
    out = []
    for v in s:
        if v is None:
            out.append(None)
            continue
        try:
            g = from_wkb(bytes(v))
        except Exception:
            out.append(None)
            continue
        out.append(to_wkb(g) if g.geom_type == "Point" else None)
    return _series(out)


_reg("st_pointfromwkb", pandas_udf(_point_from_wkb, T.BinaryType()))


def _geom_from_geojson(s: pd.Series) -> pd.Series:
    out = []
    for v in s:
        if v is None:
            out.append(None)
            continue
        try:
            out.append(to_wkb(from_geojson(v)))
        except Exception:
            out.append(None)
    return _series(out)


_reg("st_geomfromgeojson", pandas_udf(_geom_from_geojson, T.BinaryType()))


def _geom_from_geohash(s: pd.Series, prec: pd.Series) -> pd.Series:
    out = []
    p = numeric_series(prec)
    for v, bits in zip(s, p):
        if v is None or math.isnan(bits):
            out.append(None)
            continue
        xmin, ymin, xmax, ymax = geohash.decode_bbox(v, int(bits))
        ring = [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]]
        out.append(to_wkb(Polygon(ring)))
    return _series(out)


_reg("st_geomfromgeohash", pandas_udf(_geom_from_geohash, T.BinaryType()))


def _point_from_geohash(s: pd.Series, prec: pd.Series) -> pd.Series:
    out = []
    p = numeric_series(prec)
    for v, bits in zip(s, p):
        if v is None or math.isnan(bits):
            out.append(None)
            continue
        lon, lat = geohash.decode_point(v, int(bits))
        out.append(to_wkb(Point([[lon, lat]])))
    return _series(out)


_reg("st_pointfromgeohash", pandas_udf(_point_from_geohash, T.BinaryType()))


def _make_point(x: pd.Series, y: pd.Series) -> pd.Series:
    xs = numeric_series(x)
    ys = numeric_series(y)
    wkbs = points_to_wkb_array(xs, ys)
    bad = np.isnan(xs) | np.isnan(ys)
    out = pd.Series(wkbs, dtype=object)
    out[bad] = None
    return out


_reg("st_makepoint", pandas_udf(_make_point, T.BinaryType()))


def _make_point_m(x: pd.Series, y: pd.Series, m: pd.Series) -> pd.Series:
    xs, ys, ms = numeric_series(x), numeric_series(y), numeric_series(m)
    out = []
    for xi, yi, mi in zip(xs, ys, ms):
        if math.isnan(xi) or math.isnan(yi) or math.isnan(mi):
            out.append(None)
        else:
            out.append(to_wkb(Point([[xi, yi, mi]], has_m=True)))
    return _series(out)


_reg("st_makepointm", pandas_udf(_make_point_m, T.BinaryType()))


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


_reg("st_makeline", pandas_udf(_make_line, T.BinaryType()))


def _make_polygon_fn(g: Geometry):
    if g.geom_type != "LineString" or g.is_empty:
        return None
    c = g.coords
    if not np.all(c[0, :2] == c[-1, :2]):
        c = np.vstack([c, c[:1]])
    if c.shape[0] < 4:
        return None
    return Polygon(c)


_reg("st_makepolygon", g2g_udf(_make_polygon_fn))


def _box_wkb(xmin, ymin, xmax, ymax) -> bytes:
    ring = [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]]
    return to_wkb(Polygon(ring))


def _make_bbox(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series) -> pd.Series:
    a, b, c, d = (numeric_series(v) for v in (xmin, ymin, xmax, ymax))
    out = []
    for vals in zip(a, b, c, d):
        if any(math.isnan(v) for v in vals):
            out.append(None)
        else:
            out.append(_box_wkb(*vals))
    return _series(out)


_reg("st_makebbox", pandas_udf(_make_bbox, T.BinaryType()))


def _make_box2d(p1: pd.Series, p2: pd.Series) -> pd.Series:
    parse = parse_cache()
    out = []
    for b1, b2 in zip(p1, p2):
        g1, g2 = parse(b1), parse(b2)
        if g1 is None or g2 is None or g1.is_empty or g2.is_empty:
            out.append(None)
        else:
            out.append(
                _box_wkb(
                    min(g1.x, g2.x), min(g1.y, g2.y), max(g1.x, g2.x), max(g1.y, g2.y)
                )
            )
    return _series(out)


_reg("st_makebox2d", pandas_udf(_make_box2d, T.BinaryType()))


def _byte_array(s: pd.Series) -> pd.Series:
    return _series([None if v is None else v.encode("utf-8") for v in s])


_reg("st_bytearray", pandas_udf(_byte_array, T.BinaryType()))


# ---------------------------------------------------------------------------
# accessors
# ---------------------------------------------------------------------------

_reg("st_boundary", g2g_udf(alg.boundary))
_reg("st_envelope", g2g_udf(alg.envelope))
_reg(
    "st_coorddim",
    g2scalar_udf(lambda g: int(2 + g.has_z + g.has_m), T.IntegerType()),
)
_reg(
    "st_dimension",
    g2scalar_udf(lambda g: int(g.dimension) if g.dimension >= 0 else 0, T.IntegerType()),
)
_reg(
    "st_exteriorring",
    g2g_udf(
        lambda g: LineString(g.shell)
        if g.geom_type == "Polygon" and not g.is_empty
        else None
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


def _gn_udf(fn):
    def impl(s: pd.Series, n: pd.Series) -> pd.Series:
        parse = parse_cache()
        ns = numeric_series(n)
        out = []
        for b, ni in zip(s, ns):
            g = parse(b)
            if g is None or math.isnan(ni):
                out.append(None)
                continue
            r = fn(g, ni)
            out.append(None if r is None else to_wkb(r))
        return _series(out)

    return pandas_udf(impl, T.BinaryType())


_reg("st_geometryn", _gn_udf(_geometry_n))
_reg("st_interiorringn", _gn_udf(_interior_ring_n))
_reg("st_pointn", _gn_udf(_point_n))

_reg(
    "st_icclosed",  # sic: reference createUDFs.sql:43 registers the typo'd name
    g2scalar_udf(
        lambda g: bool(g.is_closed) if g.geom_type == "LineString" else True,
        T.BooleanType(),
    ),
)
_reg(
    "st_iscollection",
    g2scalar_udf(
        lambda g: g.geom_type
        in ("MultiPoint", "MultiLineString", "MultiPolygon", "GeometryCollection"),
        T.BooleanType(),
    ),
)
_reg("st_isempty", g2scalar_udf(lambda g: bool(g.is_empty), T.BooleanType()))
_reg(
    "st_isring",
    g2scalar_udf(
        lambda g: bool(g.is_ring) if g.geom_type == "LineString" else None,
        T.BooleanType(),
    ),
)
_reg("st_issimple", g2scalar_udf(lambda g: bool(alg.is_simple(g)), T.BooleanType()))


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


_reg("st_isvalid", g2scalar_udf(_is_valid, T.BooleanType()))
_reg(
    "st_numgeometries",
    g2scalar_udf(lambda g: int(len(g.geometries())), T.IntegerType()),
)
_reg(
    "st_numpoints",
    g2scalar_udf(lambda g: int(alg.all_coords(g).shape[0]), T.IntegerType()),
)


def _xy_udf(idx: int):
    # reference returns float32 (ST_X.scala:25) — match for hash parity
    def fast(x, y):
        v = (x if idx == 0 else y).astype(np.float32)
        return [None if math.isnan(fv) else float(np.float32(fv)) for fv in v]

    def fn(g):
        if g.geom_type == "Point" and not g.is_empty:
            return float(np.float32(g.coords[0, idx]))
        return None

    return g2scalar_udf(fn, T.FloatType(), point_fast=fast)


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


def _poly_predicate_udf(fn, extent_extent_fn, pip_includes_boundary: bool | None):
    """Polymorphic (Extent|Geometry, Extent|Geometry) → Boolean.

    - extent/extent: vectorized numpy bbox comparison (tight form — the
      reference's loosened OR-form is documented-divergent, SURVEY §4.1 ⚠️)
    - point-batch vs constant geometry: vectorized PIP
    - extent-batch vs constant geometry, intersects/disjoint only: when
      every non-null extent of the batch is degenerate (xmin == xmax and
      ymin == ymax — the bbox of a point), the same vectorized PIP on
      (xmin, ymin); a batch with any other extent takes the per-row path
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
        res = None
        if a_ext != b_ext and fn.__name__ in ("intersects", "disjoint"):
            ext, const = (a, b) if a_ext else (b, a)
            res = _vec_const(lambda: _point_extents_xy(ext), const, swapped=b_ext)
        # vectorized points-vs-constant fast path (binary/binary only)
        elif not a_ext and not b_ext and pip_includes_boundary is not None:
            res = _vec_points_const(a, b, swapped=False)
            if res is None:
                res = _vec_points_const(b, a, swapped=True)
        if res is not None:
            return res
        parse = parse_cache()
        ga = _extents_to_geoms(a) if a_ext else [parse(v) for v in a]
        gb = _extents_to_geoms(b) if b_ext else [parse(v) for v in b]
        return _series(
            [
                None if x is None or y is None else bool(fn(x, y))
                for x, y in zip(ga, gb)
            ]
        )

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

    return pandas_udf(impl, T.BooleanType())


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


def _relate_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    parse = parse_cache()
    out = []
    for ba, bb in zip(a, b):
        ga, gb = parse(ba), parse(bb)
        out.append(None if ga is None or gb is None else alg.relate(ga, gb))
    return _series(out)


_reg("st_relate", pandas_udf(_relate_udf, T.StringType()))


def _relate_bool(a: pd.Series, b: pd.Series, pat: pd.Series) -> pd.Series:
    parse = parse_cache()
    out = []
    for ba, bb, p in zip(a, b, pat):
        ga, gb = parse(ba), parse(bb)
        if ga is None or gb is None or p is None:
            out.append(None)
        else:
            out.append(bool(alg.relate_pattern(ga, gb, p)))
    return _series(out)


_reg("st_relatebool", pandas_udf(_relate_bool, T.BooleanType()))


# ---------------------------------------------------------------------------
# measures
# ---------------------------------------------------------------------------

_reg("st_area", g2scalar_udf(lambda g: float(alg.area(g)), T.DoubleType()))
_reg("st_length", g2scalar_udf(lambda g: float(alg.length(g)), T.DoubleType()))
_reg("st_centroid", g2g_udf(alg.centroid))
def _closest_point_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return _gg2geom(a, b, alg.closest_point)


_reg("st_closestpoint", pandas_udf(_closest_point_udf, T.BinaryType()))


# linear referencing (round 14, geom/linear.py — the PostGIS
# ST_LineInterpolatePoint / ST_LineLocatePoint / ST_LineSubstring
# trio; beyond the reference surface, whose measures stop at
# length/distance/closestPoint, spatial/.../package.scala). Planar
# fractions of cartesian length, clamped to [0, 1]; null-in→null-out;
# non-LineString inputs yield NULL (not an error — the SQL-surface
# convention for type-mismatched geometry args).


def _line_interpolate_udf(g: pd.Series, f: pd.Series) -> pd.Series:
    from geomesa_hive_spark.geom import linear as lin

    parse = parse_cache()
    out = []
    for bg, fv in zip(g, f):
        gl = parse(bg)
        # pd.isna, not `is None`: a SQL NULL in the float64 fraction
        # series arrives as NaN (caught by the round-14 verify probe —
        # `is None` let NaN flow into the interpolation)
        if gl is None or pd.isna(fv) or gl.geom_type != "LineString" \
                or gl.is_empty:
            out.append(None)
        else:
            p = lin.line_interpolate_point(gl.coords, float(fv))
            out.append(to_wkb(Point(np.array([p]))))
    return _series(out)


def _line_locate_udf(g: pd.Series, p: pd.Series) -> pd.Series:
    from geomesa_hive_spark.geom import linear as lin

    parse = parse_cache()
    out = []
    for bg, bp in zip(g, p):
        gl, gp = parse(bg), parse(bp)
        if (gl is None or gp is None or gl.geom_type != "LineString"
                or gp.geom_type != "Point" or gl.is_empty
                or gp.is_empty):
            out.append(None)
        else:
            out.append(float(lin.line_locate_point(gl.coords,
                                                   gp.coords[0])))
    return _series(out)


def _line_substring_udf(g: pd.Series, f0: pd.Series,
                        f1: pd.Series) -> pd.Series:
    from geomesa_hive_spark.geom import linear as lin

    parse = parse_cache()
    out = []
    for bg, a, b in zip(g, f0, f1):
        gl = parse(bg)
        if gl is None or pd.isna(a) or pd.isna(b) \
                or gl.geom_type != "LineString" or gl.is_empty:
            out.append(None)
        else:
            cs = lin.line_substring(gl.coords, float(a), float(b))
            out.append(to_wkb(LineString(cs)))
    return _series(out)


def _segmentize_geom(g, d):
    from geomesa_hive_spark.geom import linear as lin

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


def _segmentize_udf(g: pd.Series, d: pd.Series) -> pd.Series:
    parse = parse_cache()
    out = []
    for bg, dv in zip(g, d):
        gl = parse(bg)
        if gl is None or pd.isna(dv):
            out.append(None)
        else:
            out.append(to_wkb(_segmentize_geom(gl, float(dv))))
    return _series(out)


_reg("st_segmentize", pandas_udf(_segmentize_udf, T.BinaryType()))


_reg("st_lineinterpolatepoint",
     pandas_udf(_line_interpolate_udf, T.BinaryType()))
_reg("st_linelocatepoint", pandas_udf(_line_locate_udf, T.DoubleType()))
_reg("st_linesubstring", pandas_udf(_line_substring_udf, T.BinaryType()))


def _gg2geom(a: pd.Series, b: pd.Series, fn) -> pd.Series:
    parse = parse_cache()
    out = []
    for ba, bb in zip(a, b):
        ga, gb = parse(ba), parse(bb)
        if ga is None or gb is None:
            out.append(None)
        else:
            r = fn(ga, gb)
            out.append(None if r is None else to_wkb(r))
    return _series(out)


def _distance_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    # vectorized fast path: both sides plain points
    fa = wkb_array_to_points(a.to_numpy(dtype=object))
    fb = wkb_array_to_points(b.to_numpy(dtype=object))
    if fa is not None and fb is not None:
        ax, ay = fa
        bx, by = fb
        d = np.hypot(ax - bx, ay - by)
        out = pd.Series(d, dtype=object)
        out[np.isnan(d)] = None
        return out
    parse = parse_cache()
    out = []
    for ba, bb in zip(a, b):
        ga, gb = parse(ba), parse(bb)
        out.append(None if ga is None or gb is None else float(alg.distance(ga, gb)))
    return _series(out)


_reg("st_distance", pandas_udf(_distance_udf, T.DoubleType()))


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


_reg("st_dwithin", pandas_udf(_dwithin_udf, T.BooleanType()))


def _distance_sphere_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    fa = wkb_array_to_points(a.to_numpy(dtype=object))
    fb = wkb_array_to_points(b.to_numpy(dtype=object))
    if fa is not None and fb is not None:
        ax, ay = fa
        bx, by = fb
        d = geodesy.haversine_m(ax, ay, bx, by)
        out = pd.Series(d, dtype=object)
        out[np.isnan(np.asarray(d))] = None
        return out
    parse = parse_cache()
    out = []
    for ba, bb in zip(a, b):
        ga, gb = parse(ba), parse(bb)
        out.append(
            None if ga is None or gb is None else float(geodesy.distance_sphere(ga, gb))
        )
    return _series(out)


def _distance_spheroid_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """True WGS84 ellipsoidal distance (Vincenty inverse, fixed
    iterations — geom/geodesy.py vincenty_m). Until round 6 this name
    aliased the SPHERE kernel, a silent ≤0.5% wrong answer vs the
    PostGIS ST_DistanceSpheroid semantics the name promises. Non-point
    geometries measure between the planar closest points, the same
    convention distance_sphere documents."""
    fa = wkb_array_to_points(a.to_numpy(dtype=object))
    fb = wkb_array_to_points(b.to_numpy(dtype=object))
    if fa is not None and fb is not None:
        ax, ay = fa
        bx, by = fb
        d = geodesy.vincenty_m(ax, ay, bx, by)
        out = pd.Series(d, dtype=object)
        out[np.isnan(np.asarray(d))] = None
        return out
    from geomesa_hive_spark.geom import algorithms as _alg

    parse = parse_cache()
    out = []
    for ba, bb in zip(a, b):
        ga, gb = parse(ba), parse(bb)
        if ga is None or gb is None:
            out.append(None)
        elif ga.is_empty or gb.is_empty:
            out.append(None)
        elif _alg.intersects(ga, gb):
            out.append(0.0)
        else:
            _, ax, ay = _alg._closest_pair(ga, gb)
            _, bx, by = _alg._closest_pair(gb, ga)
            out.append(float(geodesy.vincenty_m(
                np.array([ax]), np.array([ay]),
                np.array([bx]), np.array([by]))[0]))
    return _series(out)


_reg("st_distancespheroid", pandas_udf(_distance_spheroid_udf, T.DoubleType()))
_reg("st_distancesphere", pandas_udf(_distance_sphere_udf, T.DoubleType()))
_reg(
    "st_lengthsphere",
    g2scalar_udf(lambda g: float(geodesy.length_sphere(g)), T.DoubleType()),
)
_reg(
    "st_lengthspheroid",
    g2scalar_udf(lambda g: float(geodesy.length_spheroid(g)), T.DoubleType()),
)
# round 13: WGS84 ellipsoidal polygon area in m² (PostGIS geography
# ST_Area's role — the one commonly-hit geography measure with no
# counterpart until now; reference st_area is planar JTS). Plate-carrée
# edge semantics, exact on meridian/parallel quadrangles.
_reg(
    "st_areaspheroid",
    g2scalar_udf(lambda g: float(geodesy.area_spheroid(g)), T.DoubleType()),
)


def _azimuth_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """PostGIS-style spherical forward azimuth in RADIANS clockwise
    from north, NULL for coincident points (PostGIS returns NULL when
    the points are equal): the closed-form
    atan2(sin Δλ·cos φ2, cos φ1·sin φ2 − sin φ1·cos φ2·cos Δλ),
    normalized to [0, 2π)."""
    fa = wkb_array_to_points(a.to_numpy(dtype=object))
    fb = wkb_array_to_points(b.to_numpy(dtype=object))
    if fa is not None and fb is not None:
        ax, ay = fa
        bx, by = fb
        l1, p1 = np.radians(ax), np.radians(ay)
        l2, p2 = np.radians(bx), np.radians(by)
        dl = l2 - l1
        az = np.arctan2(
            np.sin(dl) * np.cos(p2),
            np.cos(p1) * np.sin(p2) - np.sin(p1) * np.cos(p2) * np.cos(dl),
        )
        az = np.where(az < 0.0, az + 2.0 * math.pi, az)
        same = (ax == bx) & (ay == by)
        out = pd.Series(az, dtype=object)
        out[same | np.isnan(az)] = None
        return out
    parse = parse_cache()
    out = []
    for ba, bb in zip(a, b):
        ga, gb = parse(ba), parse(bb)
        if (ga is None or gb is None or ga.geom_type != "Point"
                or gb.geom_type != "Point" or ga.is_empty or gb.is_empty):
            out.append(None)
            continue
        (ax, ay), (bx, by) = ga.coords[0], gb.coords[0]
        if ax == bx and ay == by:
            out.append(None)
            continue
        dl = math.radians(bx - ax)
        az = math.atan2(
            math.sin(dl) * math.cos(math.radians(by)),
            math.cos(math.radians(ay)) * math.sin(math.radians(by))
            - math.sin(math.radians(ay)) * math.cos(math.radians(by))
            * math.cos(dl),
        )
        out.append(az + 2.0 * math.pi if az < 0.0 else az)
    return _series(out)


_reg("st_azimuth", pandas_udf(_azimuth_udf, T.DoubleType()))
def _difference_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return _gg2geom(a, b, clip_mod.difference)


def _intersection_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return _gg2geom(a, b, clip_mod.intersection)


_reg("st_difference", pandas_udf(_difference_udf, T.BinaryType()))
_reg("st_intersection", pandas_udf(_intersection_udf, T.BinaryType()))


def _translate_udf(s: pd.Series, dx: pd.Series, dy: pd.Series) -> pd.Series:
    parse = parse_cache()
    xs, ys = numeric_series(dx), numeric_series(dy)
    out = []
    for b, xi, yi in zip(s, xs, ys):
        g = parse(b)
        if g is None or math.isnan(xi) or math.isnan(yi):
            out.append(None)
        else:
            out.append(to_wkb(alg.translate(g, xi, yi)))
    return _series(out)


_reg("st_translate", pandas_udf(_translate_udf, T.BinaryType()))


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


_reg("st_antimeridiansafegeom", g2g_udf(_antimeridian_safe))


def _buffer_point_udf(s: pd.Series, r: pd.Series) -> pd.Series:
    parse = parse_cache()
    rs = numeric_series(r)
    out = []
    for b, ri in zip(s, rs):
        g = parse(b)
        if g is None or math.isnan(ri) or g.geom_type != "Point" or g.is_empty:
            out.append(None)
        else:
            out.append(to_wkb(geodesy.buffer_point(g, float(ri))))
    return _series(out)


_reg("st_bufferpoint", pandas_udf(_buffer_point_udf, T.BinaryType()))


def _simplify_udf(preserve: bool):
    def impl(s: pd.Series, tol: pd.Series) -> pd.Series:
        parse = parse_cache()
        ts = numeric_series(tol)
        out = []
        for b, ti in zip(s, ts):
            g = parse(b)
            if g is None or math.isnan(ti):
                out.append(None)
            else:
                out.append(to_wkb(alg.simplify(g, float(ti), preserve_topology=preserve)))
        return _series(out)

    return pandas_udf(impl, T.BinaryType())


_reg("st_simplify", _simplify_udf(False))
_reg("st_simplifypreservetopology", _simplify_udf(True))


# ---------------------------------------------------------------------------
# output / encodings
# ---------------------------------------------------------------------------

_reg("st_astext", g2scalar_udf(to_wkt, T.StringType()))
_reg("st_asbinary", g2scalar_udf(to_wkb, T.BinaryType()))
_reg("st_astwkb", g2scalar_udf(twkb.to_twkb, T.BinaryType()))
_reg("st_asgeojson", g2scalar_udf(to_geojson, T.StringType()))


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


_reg("st_aslatlontext", g2scalar_udf(_as_latlon_text, T.StringType()))


def _as_geohash(s: pd.Series, prec: pd.Series) -> pd.Series:
    parse = parse_cache()
    ps = numeric_series(prec)
    out = []
    for b, bits in zip(s, ps):
        g = parse(b)
        if g is None or math.isnan(bits) or g.is_empty:
            out.append(None)
            continue
        ip = (g.x, g.y) if g.geom_type == "Point" else alg._interior_point(g)
        if ip is None:
            out.append(None)
        else:
            out.append(geohash.encode(ip[1], ip[0], int(bits)))
    return _series(out)


_reg("st_asgeohash", pandas_udf(_as_geohash, T.StringType()))


# ---------------------------------------------------------------------------
# casts
# ---------------------------------------------------------------------------

_reg("st_casttogeometry", g2g_udf(lambda g: g))
_reg("st_casttopoint", g2g_udf(lambda g: g if g.geom_type == "Point" else None))
_reg(
    "st_casttolinestring",
    g2g_udf(lambda g: g if g.geom_type == "LineString" else None),
)
_reg("st_casttopolygon", g2g_udf(lambda g: g if g.geom_type == "Polygon" else None))


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


_reg("st_isgeomfield", pandas_udf(_is_geom_field, T.BooleanType()))


# ---------------------------------------------------------------------------
# spatial-index module (SURVEY §2.3)
# ---------------------------------------------------------------------------


def _make_extent(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "xmin": numeric_series(xmin),
            "ymin": numeric_series(ymin),
            "xmax": numeric_series(xmax),
            "ymax": numeric_series(ymax),
        }
    )


_reg("st_makeextent", pandas_udf(_make_extent, EXTENT_TYPE))


def _extent_from_geom(s: pd.Series) -> pd.DataFrame:
    vals = s.to_numpy(dtype=object)
    fp = wkb_array_to_points(vals)
    if fp is not None:
        x, y = fp
        return pd.DataFrame({"xmin": x, "ymin": y, "xmax": x, "ymax": y})
    parse = parse_cache()
    rows = []
    for b in vals:
        g = parse(b)
        if g is None or g.is_empty:
            rows.append((np.nan, np.nan, np.nan, np.nan))
        else:
            rows.append(g.bounds)
    a = np.asarray(rows, dtype=np.float64)
    return pd.DataFrame({"xmin": a[:, 0], "ymin": a[:, 1], "xmax": a[:, 2], "ymax": a[:, 3]})


_reg("st_extentfromgeom", pandas_udf(_extent_from_geom, EXTENT_TYPE))


def _extent_to_geom(df: pd.Series) -> pd.Series:
    xmin, ymin, xmax, ymax = _extent_cols(df)
    out = []
    for a, b, c, d in zip(xmin, ymin, xmax, ymax):
        if math.isnan(a):
            out.append(None)
        else:
            out.append(_box_wkb(a, b, c, d))
    return _series(out)


_reg("st_extenttogeom", pandas_udf(_extent_to_geom, T.BinaryType()))


_CRS_PROJ4 = {
    "EPSG:4326": "+proj=longlat +datum=WGS84 +no_defs",
    "EPSG:3857": "+proj=merc +a=6378137 +b=6378137 +lat_ts=0 +lon_0=0 +x_0=0 +y_0=0 +k=1 +units=m +nadgrids=@null +wktext +no_defs",
}


def _crs_from_text(s: pd.Series) -> pd.Series:
    out = []
    for v in s:
        if v is None:
            out.append(None)
        elif v.strip().startswith("+"):
            out.append(v.strip())
        else:
            out.append(_CRS_PROJ4.get(v.strip().upper(), v.strip()))
    return _series(out)


_reg("st_crsfromtext", pandas_udf(_crs_from_text, T.StringType()))

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


def _coord_fn(fk, tk):
    """Coordinate-transform function for a (parsed-from, parsed-to) CRS
    pair, routing through lon/lat as the hub. Raises ValueError for a
    pair outside the supported registry — an unsupported *argument* is
    an error (silent nulls lose data invisibly), unlike a null *input*
    which stays null-in→null-out."""
    from geomesa_hive_spark.geom import projections as proj

    def to_ll(c):
        if fk[0] == "longlat":
            return c
        if fk[0] == "webmerc":
            return _reproject_coords(c, False)
        if fk[0] == "lcc":
            return proj.lcc_inverse(c, fk[1:])
        if fk[0] == "aea":
            return proj.aea_inverse(c, fk[1:])
        if fk[0] == "eqdc":
            return proj.eqdc_inverse(c, fk[1:])
        if fk[0] == "laea":
            return proj.laea_inverse(c, fk[1:])
        if fk[0] == "stere":
            return proj.stere_inverse(c, fk[1:])
        if fk[0] == "sinu":
            return proj.sinu_inverse(c, fk[1:])
        if fk[0] == "merc":
            return proj.merc_inverse(c, fk[1:])
        if fk[0] == "eqc":
            return proj.eqc_inverse(c, fk[1:])
        if fk[0] == "moll":
            return proj.moll_inverse(c, fk[1:])
        if fk[0] == "eqearth":
            return proj.eqearth_inverse(c, fk[1:])
        if fk[0] == "cea":
            return proj.cea_inverse(c, fk[1:])
        if fk[0] == "wintri":
            return proj.wintri_inverse(c, fk[1:])
        if fk[0] == "robin":
            return proj.robin_inverse(c, fk[1:])
        if fk[0] == "aeqd":
            return proj.aeqd_inverse(c, fk[1:])
        if fk[0] == "ortho":
            return proj.ortho_inverse(c, fk[1:])
        if fk[0] == "eck4":
            return proj.eck4_inverse(c, fk[1:])
        if fk[0] == "natearth":
            return proj.natearth_inverse(c, fk[1:])
        if fk[0] == "gnom":
            return proj.gnom_inverse(c, fk[1:])
        if fk[0] == "hammer":
            return proj.hammer_inverse(c, fk[1:])
        if fk[0] == "mill":
            return proj.mill_inverse(c, fk[1:])
        if fk[0] == "vandg":
            return proj.vandg_inverse(c, fk[1:])
        if fk[0] == "igh":
            return proj.igh_inverse(c, fk[1:])
        if fk[0] == "tmerc":
            a, e2 = fk[1], fk[2]
            tw = fk[8]
            ll = proj.tmerc_inverse(c, fk[1:8])
            return proj.datum_to_wgs84(ll, a, e2, tw) if tw is not None else ll
        if fk[0] == "cass":
            a, e2 = fk[1], fk[2]
            tw = fk[7]
            ll = proj.cass_inverse(c, fk[1:7])
            return proj.datum_to_wgs84(ll, a, e2, tw) if tw is not None else ll
        if fk[0] == "poly":
            a, e2 = fk[1], fk[2]
            tw = fk[7]
            ll = proj.poly_inverse(c, fk[1:7])
            return proj.datum_to_wgs84(ll, a, e2, tw) if tw is not None else ll
        if fk[0] == "krovak":
            a, e2 = fk[1], fk[2]
            tw = fk[10]
            ll = proj.krovak_inverse(c, fk[1:10])
            return proj.datum_to_wgs84(ll, a, e2, tw) if tw is not None else ll
        if fk[0] == "somerc":
            a, e2 = fk[1], fk[2]
            tw = fk[8]
            ll = proj.somerc_inverse(c, fk[1:8])
            return proj.datum_to_wgs84(ll, a, e2, tw) if tw is not None else ll
        if fk[0] == "sterea":
            a, e2 = fk[1], fk[2]
            tw = fk[8]
            ll = proj.sterea_inverse(c, fk[1:8])
            return proj.datum_to_wgs84(ll, a, e2, tw) if tw is not None else ll
        if fk[0] == "omerc":
            a, e2 = fk[1], fk[2]
            tw = fk[11]
            ll = proj.omerc_inverse(c, fk[1:11])
            return proj.datum_to_wgs84(ll, a, e2, tw) if tw is not None else ll
        return proj.utm_inverse(c, fk[1], fk[2])

    def from_ll(c):
        if tk[0] == "longlat":
            return c
        if tk[0] == "webmerc":
            return _reproject_coords(c, True)
        if tk[0] == "lcc":
            return proj.lcc_forward(c, tk[1:])
        if tk[0] == "aea":
            return proj.aea_forward(c, tk[1:])
        if tk[0] == "eqdc":
            return proj.eqdc_forward(c, tk[1:])
        if tk[0] == "laea":
            return proj.laea_forward(c, tk[1:])
        if tk[0] == "stere":
            return proj.stere_forward(c, tk[1:])
        if tk[0] == "sinu":
            return proj.sinu_forward(c, tk[1:])
        if tk[0] == "merc":
            return proj.merc_forward(c, tk[1:])
        if tk[0] == "eqc":
            return proj.eqc_forward(c, tk[1:])
        if tk[0] == "moll":
            return proj.moll_forward(c, tk[1:])
        if tk[0] == "eqearth":
            return proj.eqearth_forward(c, tk[1:])
        if tk[0] == "cea":
            return proj.cea_forward(c, tk[1:])
        if tk[0] == "wintri":
            return proj.wintri_forward(c, tk[1:])
        if tk[0] == "robin":
            return proj.robin_forward(c, tk[1:])
        if tk[0] == "aeqd":
            return proj.aeqd_forward(c, tk[1:])
        if tk[0] == "ortho":
            return proj.ortho_forward(c, tk[1:])
        if tk[0] == "eck4":
            return proj.eck4_forward(c, tk[1:])
        if tk[0] == "natearth":
            return proj.natearth_forward(c, tk[1:])
        if tk[0] == "gnom":
            return proj.gnom_forward(c, tk[1:])
        if tk[0] == "hammer":
            return proj.hammer_forward(c, tk[1:])
        if tk[0] == "mill":
            return proj.mill_forward(c, tk[1:])
        if tk[0] == "vandg":
            return proj.vandg_forward(c, tk[1:])
        if tk[0] == "igh":
            return proj.igh_forward(c, tk[1:])
        if tk[0] == "tmerc":
            a, e2 = tk[1], tk[2]
            tw = tk[8]
            ll = proj.datum_from_wgs84(c, a, e2, tw) if tw is not None else c
            return proj.tmerc_forward(ll, tk[1:8])
        if tk[0] == "cass":
            a, e2 = tk[1], tk[2]
            tw = tk[7]
            ll = proj.datum_from_wgs84(c, a, e2, tw) if tw is not None else c
            return proj.cass_forward(ll, tk[1:7])
        if tk[0] == "poly":
            a, e2 = tk[1], tk[2]
            tw = tk[7]
            ll = proj.datum_from_wgs84(c, a, e2, tw) if tw is not None else c
            return proj.poly_forward(ll, tk[1:7])
        if tk[0] == "krovak":
            a, e2 = tk[1], tk[2]
            tw = tk[10]
            ll = proj.datum_from_wgs84(c, a, e2, tw) if tw is not None else c
            return proj.krovak_forward(ll, tk[1:10])
        if tk[0] == "somerc":
            a, e2 = tk[1], tk[2]
            tw = tk[8]
            ll = proj.datum_from_wgs84(c, a, e2, tw) if tw is not None else c
            return proj.somerc_forward(ll, tk[1:8])
        if tk[0] == "sterea":
            a, e2 = tk[1], tk[2]
            tw = tk[8]
            ll = proj.datum_from_wgs84(c, a, e2, tw) if tw is not None else c
            return proj.sterea_forward(ll, tk[1:8])
        if tk[0] == "omerc":
            a, e2 = tk[1], tk[2]
            tw = tk[11]
            ll = proj.datum_from_wgs84(c, a, e2, tw) if tw is not None else c
            return proj.omerc_forward(ll, tk[1:11])
        return proj.utm_forward(c, tk[1], tk[2])

    if fk == tk:
        return lambda c: c
    return lambda c: from_ll(to_ll(c))


def _geom_reproject(s: pd.Series, f: pd.Series, t: pd.Series) -> pd.Series:
    from geomesa_hive_spark.geom.projections import parse_crs

    parse = parse_cache()
    out = []
    fn_cache: dict[tuple[str, str], object] = {}
    for b, fc, tc in zip(s, f, t):
        g = parse(b)
        if g is None or fc is None or tc is None:
            out.append(None)
            continue
        key = (fc, tc)
        fn = fn_cache.get(key)
        if fn is None:
            fn = _coord_fn(parse_crs(fc), parse_crs(tc))  # raises if unsupported
            fn_cache[key] = fn
        out.append(to_wkb(_transform_geom(g, fn)))
    return _series(out)


_reg("st_geomreproject", pandas_udf(_geom_reproject, T.BinaryType()))


def _bounds_of(vals) -> np.ndarray:
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


def _z2_latlon(s: pd.Series) -> pd.DataFrame:
    bb = _bounds_of(s.to_numpy(dtype=object))
    zmin, zmax = z2_mod.z2_latlon_range(bb[:, 0], bb[:, 1], bb[:, 2], bb[:, 3])
    bad = np.isnan(bb[:, 0])
    res = pd.DataFrame({"min": pd.array(zmin, dtype="Int64"), "max": pd.array(zmax, dtype="Int64")})
    res.loc[bad, "min"] = pd.NA
    res.loc[bad, "max"] = pd.NA
    return res


_reg("st_z2latlon", pandas_udf(_z2_latlon, Z2_TYPE))


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


_reg("st_partitioncentroid", pandas_udf(_partition_centroid, T.LongType()))
