"""SQL-string spatial filter pushdown: the raw-SQL twin of pushdown.py.

The reference installs its rewrite rules session-wide via
``spark.sql.extensions``
(``spatial-index/.../rules/SpatialFilterPushdownOptimizations.scala:22-24``)
so a plain SQL ``WHERE st_intersects(bbox, st_makeBBOX(...))`` is turned
into min/max struct-field comparisons Parquet can prune on (expected
plans: ``spatial-index/src/test/scala/.../STIndexSpec.scala:57-110``).
Pure PySpark cannot inject Catalyst rules, so :func:`spatial_sql`
rewrites the SQL **text** before handing it to ``spark.sql`` — same
observable plan, no JVM extension needed.

The predicate rewrite has the reference's shape: one call pattern finds
``st_intersects|st_contains|st_within|st_dwithin`` calls, one classifier
(:func:`_literal`) reads a literal argument's kind and bounds once, and
one emitter (:func:`_predicate`) writes the bbox conjunction and decides
by the kind whether the exact UDF is dropped — an extent literal, where
the min/max comparison IS the predicate (tight form — see pushdown.py on
the reference's loosened OR-form) — or kept as a conjunct,
``(bbox_conj AND st_xxx(col, lit))`` — a geometry literal, whose
envelope test is necessary-not-sufficient, as the reference's
``STContainsRule.scala:56-71`` keeps it. The table beside the emitter
gives the reason for each kind. Every replacement is *locally
equivalent* to the predicate it replaces, so it is safe anywhere in the
boolean expression (under OR / NOT / CASE), not only in top-level WHERE
conjuncts.

NULL semantics are EXACT: the replacement is the bare
min/max conjunction with no IS-NOT-NULL guard, so a NULL extent yields
NULL — the same null-in→null-out the UDF has — which matters when the
predicate is *projected* rather than filtered. In a WHERE context the
optimizer's null-intolerance analysis still derives IsNotNull and the
four field comparisons for the parquet PushedFilters, so nothing is
lost at the scan (asserted in test_spatial_sql.py).

Identifiers may be bare, qualified (``t.bbox``), backticked
(backtick-quoted ``my col``), or both (``t`` . backtick-quoted ``my col``).

Lexical safety: the patterns match on a masked copy of the SQL in which
the inside of every quoted string, quoted identifier and comment
(``--`` and nested ``/* */``) is blanked, so a predicate spelled inside
a literal or a comment is never rewritten; the WKT of
``st_geomFromWKT('...')`` and every identifier are read back from the
original text at the same offsets. One scanner over the masked text
(:func:`_depth0`: depth-0 words and commas, semicolons, unmatched
parens) splits call arguments and backs the join soundness checks and
the aggregate rewrites' clause skeleton.

Typed rewrite (:func:`spatial_sql` and :func:`install`, which have a
session): the schema of every relation named after ``FROM``/``JOIN`` is
looked up with ``spark.table(name).schema``, and the predicate is
rewritten only when its column resolves to the extent struct
``struct<xmin,ymin,xmax,ymax:double>`` — the reference's
``STIntersectsRule`` likewise fires on resolved types only. A column of
any other type (a BINARY geometry) is left untouched, so the query
analyzes on the first try and its extent terms keep their Parquet
PushedFilters. On the same path every ``st_geomFromWKT('<literal>')``
that parses is folded into the binary literal ``X'<wkb>'`` (the bytes
the UDF would build on every row). A column the catalog cannot resolve
(a CTE or subquery output) gets the untyped rewrite, and if that text
fails analysis the original SQL runs unchanged — the rewrite is an
optimization, never a requirement. That fallback logs one WARNING
naming the error condition; PySpark's own error record, with its JVM
stack, is dropped for the rewritten attempt only.
"""

from __future__ import annotations

import logging
import math
import re
import threading

from pyspark.logger import PySparkLogger
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from geomesa_hive_spark.operators.native_points import (
    is_extent_type, point_columns, point_predicate_sql, quoted,
)
from geomesa_hive_spark.operators.spatial_join import exploded_sql, grown_sql, on_sql

__all__ = [
    "spatial_sql", "rewrite_spatial_predicates", "rewrite_spatial_join",
    "rewrite_convexhull_agg", "rewrite_extent_agg", "install", "uninstall",
]

_NUM = r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?"
_SEG = r"(?:`[^`]+`|[A-Za-z_]\w*)"
_IDENT = rf"{_SEG}(?:\.{_SEG})?"
_MAKER = r"st_make(?:bbox|extent|box2d)"

# where a quoted token or a comment can start: [r]'...', [r]"...",
# `...`, -- and /*
_LEX_START = re.compile(r"""[rR]?['"]|`|--|/\*""")
# the body of a quoted token, by its opening (a raw string has no escapes)
_LEX_BODY = {
    "'": re.compile(r"(?:[^'\\]|\\.|'')*", re.DOTALL),
    '"': re.compile(r'(?:[^"\\]|\\.|"")*', re.DOTALL),
    "r'": re.compile(r"[^']*"),
    'r"': re.compile(r'[^"]*'),
    "`": re.compile(r"(?:[^`]|``)*"),
}


def _lexemes(sql: str):
    """Yield ``(start, end, quoted)`` for the inside of every quoted
    string or identifier (``quoted``: between its quotes) and every
    comment of ``sql``. ``''`` and backslash escapes (not in raw
    ``r'...'`` strings or backticks) continue a token; ``/* */``
    comments nest as in Spark; an unterminated token runs to the end."""
    pos, n = 0, len(sql)
    while (m := _LEX_START.search(sql, pos)) is not None:
        i, tok = m.start(), m.group()
        if tok == "--":
            j = sql.find("\n", i)
            j = n if j < 0 else j
        elif tok == "/*":
            depth, j = 1, i + 2
            while depth and j < n:
                k = sql.find("*/", j)
                o = sql.find("/*", j, n if k < 0 else k)
                if k < 0:
                    j = n
                elif o >= 0:
                    depth, j = depth + 1, o + 2
                else:
                    depth, j = depth - 1, k + 2
        else:
            # r'...' is raw only when the r starts a token, not ends an identifier
            if len(tok) == 2 and i and (sql[i - 1].isalnum() or sql[i - 1] == "_"):
                tok = tok[1]
            j = _LEX_BODY[tok.lower()].match(sql, m.end()).end()
            if sql[j:j + 1] != tok[-1]:
                j = n
            yield m.end(), j, True
            pos = j + 1
            continue
        yield i, j, False
        pos = j


def _mask(sql: str) -> str:
    """``sql`` with the inside of every quoted string, quoted identifier
    and comment (see :func:`_lexemes`) blanked to spaces. Same length as
    ``sql``, so a match on the mask has the offsets of the original
    text; quotes stay in place."""
    out, pos = [], 0
    for i, j, _ in _lexemes(sql):
        out += [sql[pos:i], " " * (j - i)]
        pos = j
    out.append(sql[pos:])
    return "".join(out)


class _Orig:
    """A match found on the masked text, read back from the original."""

    __slots__ = ("m", "sql")

    def __init__(self, m: re.Match, sql: str):
        self.m, self.sql = m, sql

    def group(self, g=0):
        a, b = self.m.span(g)
        return None if a < 0 else self.sql[a:b]


# a word (it starts at a letter or '_', not at a digit) or a paren,
# comma or semicolon
_TOKEN = re.compile(r"[^\W\d]\w*|[(),;]")


def _depth0(masked: str, pos: int = 0):
    """Yield ``(token, offset)`` through masked SQL text from ``pos``:
    each word and ``,`` at paren depth 0, every ``;``, each ``)`` that
    closes no ``(`` (the depth stays 0), and last ``("(", offset)`` of
    a depth-0 ``(`` that never closes."""
    depth = opened = 0
    for m in _TOKEN.finditer(masked, pos):
        tok = m.group()
        if tok == "(":
            if not depth:
                opened = m.start()
            depth += 1
        elif tok == ")":
            if depth:
                depth -= 1
            else:
                yield tok, m.start()
        elif tok == ";" or not depth:
            yield tok, m.start()
    if depth:
        yield "(", opened


def _args(masked: str, pos: int):
    """``(start, end)`` of each argument of the call whose ``(`` ends at
    ``pos``, the last one ending at the call's ``)``; None if the call
    never closes."""
    spans = []
    for tok, i in _depth0(masked, pos):
        if tok in (",", ")"):
            spans.append((pos, i))
            pos = i + 1
            if tok == ")":
                return spans
        elif tok == "(":
            return None
    return None


def _wkt_geom(lit: str):
    """The geometry of a WKT string literal's text, or None when it does
    not parse. A backslash would be unescaped by Spark first, so such a
    literal is not read here."""
    from geomesa_hive_spark.geom import from_wkt

    if "\\" in lit:
        return None
    try:
        return from_wkt(lit)
    except Exception:
        return None


# ---------------------------------------------------------------------------
# predicate rewrite: one call pattern, one literal classifier, one emitter
# ---------------------------------------------------------------------------
# What the rewrite makes of ``fn(col, lit)`` / ``fn(lit, col)``, by the
# kind of the literal (the reference evaluates the foldable literal once
# for its envelope and whether it is a geometry, emits one bbox
# conjunction and keeps the exact UDF only for a geometry literal:
# STContainsRule.scala:38-117, STIntersectsRule.scala:38-126):
#
#   kind      literal                                  intersects  contains/within  dwithin
#   box       st_makeBBOX/Extent/Box2D(4 numbers)      dropped     dropped          kept (+d)
#   extent    st_extentFromGeom(point or WKT literal)  dropped     dropped          no rewrite
#   point     st_makePoint(x, y)                       dropped     kept             kept (+d)
#   geometry  st_geomFromWKT('<wkt>')                  kept        kept             kept (+d)
#
# (the exact UDF: dropped, or kept as a conjunct; +d: the box grown by d)
#
# - an extent literal drops the UDF: between extents the min/max
#   comparison IS the predicate (containment is interval inclusion);
# - a point geometry drops it only for intersects, which includes the
#   boundary; OGC contains/within need an interior intersection, which a
#   boundary point fails, so there the comparison is only a prefilter;
# - a geometry literal's envelope is only necessary, for all three;
# - dwithin keeps it: per axis Chebyshev ≤ Euclidean distance, so the box
#   grown by d is implied by distance ≤ d but is not exact (corner gaps).
# An unparseable WKT, a negative d, a column the typed rewrite finds is
# no extent and bounds that are not all finite (an empty geometry's NaN,
# an overflowing number or d; Spark would read ``nan``/``inf`` as column
# names) leave the call as written.
#
# A geometry literal against a column that holds points by its field
# metadata (a binary geometry column whose claim is ["Point"], or its
# covering) runs natively instead of through the UDF, for
# st_intersects|st_within|st_contains|st_covers|st_disjoint on the
# geometry column and st_intersects on the covering:
# native_points.point_predicate_sql, the covering's bbox comparisons plus
# the point test. Two such calls in one AND chain with the same test
# (the paper's ``st_intersects(bbox, W) AND st_intersects(geom, W)``)
# carry the test once.

_PRED_CALL = re.compile(
    r"\b(st_intersects|st_contains|st_within|st_dwithin|st_covers|st_disjoint)\s*\(", re.IGNORECASE)
_ARG_COL = re.compile(rf"\s*({_IDENT})\s*", re.IGNORECASE)
_ARG_NUM = re.compile(rf"\s*({_NUM})\s*")
_WKT = r"st_geomfromwkt\s*\(\s*'([^']*)'\s*\)"
# the literal shapes, each a whole argument of masked text
_LITERALS = tuple((kind, re.compile(rf"\s*{rx}\s*", re.IGNORECASE | re.DOTALL)) for kind, rx in (
    ("box", rf"{_MAKER}\s*\(\s*({_NUM})\s*,\s*({_NUM})\s*,\s*({_NUM})\s*,\s*({_NUM})\s*\)"),
    ("point", rf"st_makepoint\s*\(\s*({_NUM})\s*,\s*({_NUM})\s*\)"),
    ("geometry", _WKT),
    ("extent", r"st_extentfromgeom\s*\((.*)\)"),
))


def _literal(arg: str, masked: str):
    """``(kind, (xmin, ymin, xmax, ymax), geometry)`` of a literal
    argument (its text and masked text; see the table above), the bounds
    as SQL number text and the parsed geometry of a ``geometry`` kind
    (else None); None for anything else, an unparseable WKT included."""
    for kind, rx in _LITERALS:
        m = rx.fullmatch(masked)
        if m is None:
            continue
        # numbers read the same on the masked text; WKT is read from ``arg``
        if kind == "box":
            return kind, m.groups(), None
        if kind == "point":
            return kind, m.groups() * 2, None      # [x,x]×[y,y]
        lit = _Orig(m, arg)
        if kind == "geometry":
            g = _wkt_geom(lit.group(1))
            return None if g is None else (kind, tuple(map(repr, g.bounds)), g)
        inner = _literal(lit.group(1), m.group(1))
        return (kind, inner[1], None) if inner and inner[0] in ("point", "geometry") else None
    return None


def _conj(col: str, xmin: str, ymin: str, xmax: str, ymax: str, mode: str) -> str:
    """The native bbox predicate on an extent struct column — all four
    comparisons land on column fields, so Catalyst pushes them to the
    Parquet scan (row-group skipping on bbox.* statistics).

    Deliberately NO ``IS NOT NULL`` guard: field access on a NULL struct
    yields NULL, so the AND-chain is NULL exactly when the UDF would be
    (null-in→null-out) — locally equivalent in every context including
    projection. Filtering still prunes: the optimizer derives IsNotNull
    from the null-intolerant comparisons for the pushed filters."""
    if mode == "intersects":
        body = (
            f"{col}.xmin <= {xmax} AND {col}.xmax >= {xmin} "
            f"AND {col}.ymin <= {ymax} AND {col}.ymax >= {ymin}"
        )
    elif mode == "col_within_lit":
        body = (
            f"{col}.xmin >= {xmin} AND {col}.xmax <= {xmax} "
            f"AND {col}.ymin >= {ymin} AND {col}.ymax <= {ymax}"
        )
    elif mode == "col_contains_lit":
        body = (
            f"{col}.xmin <= {xmin} AND {col}.ymin <= {ymin} "
            f"AND {col}.xmax >= {xmax} AND {col}.ymax >= {ymax}"
        )
    else:  # pragma: no cover
        raise ValueError(mode)
    return f"({body})"


def _mode(fn: str, col_first: bool) -> str:
    """Which bbox comparison matches the UDF's geometric semantics
    (st_contains(a, b) = a ⊇ b; st_within(a, b) = a ⊆ b)."""
    fn = fn.lower()
    if fn == "st_intersects":
        return "intersects"
    if fn == "st_contains":
        return "col_contains_lit" if col_first else "col_within_lit"
    return "col_within_lit" if col_first else "col_contains_lit"  # st_within


def _predicate(fn: str, args: list, call: str, is_extent, points_of=None):
    """The emitter: the replacement of the predicate ``call`` to ``fn``
    (lower case) with ``args`` as (text, masked text) pairs, as
    ``(conj, test)`` — the replacement is their AND, ``test`` None for
    a replacement with no native point test — or None to leave it as
    written. Decides in one place, by the table above, whether the UDF
    is dropped or kept — and, where ``points_of(col)`` names the point
    columns of a geometry literal's column, whether it runs natively
    instead (``operators/native_points.py``)."""
    dwithin = fn == "st_dwithin"
    if len(args) != 2 + dwithin:
        return None
    d = _ARG_NUM.fullmatch(args[2][1]) if dwithin else None
    c = 0 if _ARG_COL.fullmatch(args[0][1]) else 1
    col = _ARG_COL.fullmatch(args[c][1])
    lit = _literal(*args[1 - c])
    if col is None or lit is None or (dwithin and d is None):
        return None
    col = _Orig(col, args[c][0]).group(1)
    kind, bounds, geom = lit
    points = points_of(col) if points_of is not None and kind == "geometry" else None
    if is_extent is not None and is_extent(col) is False:
        return points and point_predicate_sql(fn, c == 0, geom, *points)
    # an extent column that is the covering of points: intersects is the
    # point test on its (xmin, ymin), as the UDF's all-degenerate path
    native = points and fn == "st_intersects" and point_predicate_sql(fn, c == 0, geom, *points)
    if native or fn in ("st_covers", "st_disjoint"):
        return native or None
    if dwithin:
        fd = float(d.group(1))
        if kind == "extent" or fd < 0:
            return None
        x0, y0, x1, y1 = map(float, bounds)
        bounds = repr(x0 - fd), repr(y0 - fd), repr(x1 + fd), repr(y1 + fd)
        mode, keep = "intersects", True
    else:
        mode = _mode(fn, c == 0)
        keep = kind == "geometry" or (kind == "point" and mode != "intersects")
    if not all(math.isfinite(float(b)) for b in bounds):
        return None
    conj = _conj(col, *bounds, mode)
    return (f"({conj} AND {call})" if keep else conj), None


def rewrite_spatial_predicates(sql: str) -> str:
    """Textual rewrite of spatial predicates over extent struct columns
    into pushable min/max comparisons. Pure function of the SQL string —
    inspect the result to see exactly what will run. Untyped: every
    recognized column is taken to be an extent (see :func:`spatial_sql`
    for the typed rewrite); text inside literals and comments is never
    touched."""
    return _rewrite_predicates(sql, None)


def _rewrite_predicates(sql: str, is_extent, points_of=None) -> str:
    """The predicate rewrite. ``is_extent(col)`` tells, for a column's
    text, True (an extent struct), False (another type: the predicate is
    left untouched unless ``points_of`` gives it a native form) or None
    (unknown: rewritten as if an extent); ``is_extent=None`` is the
    untyped rewrite. ``points_of(col)`` is the ``(geometry, covering)``
    column text of a column that holds points by its field metadata,
    else None. Calls are found on the masked text; a call that is not
    rewritten is searched for calls inside it."""
    masked = _mask(sql)
    out, pos, i, last = [], 0, 0, None
    while (m := _PRED_CALL.search(masked, i)) is not None:
        i = m.end()
        spans = _args(masked, i)
        if spans is None:
            continue
        end = spans[-1][1] + 1
        rep = _predicate(m.group(1).lower(), [(sql[a:b], masked[a:b]) for a, b in spans],
                         sql[m.start():end], is_extent, points_of)
        if rep is not None:
            conj, test = rep
            if test is not None and last is not None and last[2] == test and _one_and_chain(
                    masked, last[0], last[1], m.start(), end):
                text = conj or "TRUE"  # the test is already a conjunct of this AND chain
            else:
                text = f"({conj} AND {test})" if conj and test else conj or test
            out += [sql[pos:m.start()], text]
            last = (m.start(), end, test) if test is not None else None
            pos = i = end
    return "".join(out + [sql[pos:]]) if out else sql


# two calls are conjuncts of one AND chain when AND is all that separates
# them, nothing that binds tighter than AND precedes the first (NOT, a
# comparison, BETWEEN's AND) and nothing follows the second
_CHAIN_LEFT = re.compile(r"(?:^|[(,]|\b(?:WHERE|ON|HAVING|WHEN|THEN|ELSE|OR|SELECT))\s*\Z", re.IGNORECASE)
_CHAIN_GAP = re.compile(r"\s+AND\s+", re.IGNORECASE)
_CHAIN_RIGHT = re.compile(
    r"\s*(?:$|[),;]|(?:AND|OR|THEN|ELSE|END|WHEN|GROUP|ORDER|LIMIT|HAVING|UNION|EXCEPT|INTERSECT"
    r"|WINDOW|SORT|CLUSTER|DISTRIBUTE)\b)", re.IGNORECASE)


def _one_and_chain(masked: str, a0: int, a1: int, b0: int, b1: int) -> bool:
    """True when the calls at ``[a0, a1)`` and ``[b0, b1)`` of masked text
    are ``A AND B`` inside one AND chain, so a test both replacements
    carry is needed once (AND is idempotent in three-valued logic)."""
    return bool(_CHAIN_GAP.fullmatch(masked, a1, b0) and _CHAIN_LEFT.search(masked[:a0])
                and _CHAIN_RIGHT.match(masked, b1))


# ---------------------------------------------------------------------------
# spatial JOIN rewrite
# ---------------------------------------------------------------------------
# ``FROM a JOIN b ON st_intersects(a.geom, b.geom)`` runs in stock Spark
# as a BroadcastNestedLoopJoin/CartesianProduct + UDF filter — the plan
# that dies at 100 TB. The reference has the same hole (its rules match
# Filter(HiveGenericUDF) only, SpatialFilterPushdownRules.scala:35-38);
# this rewrite EXTENDS the surface: a recognized geometry×geometry JOIN
# predicate is re-expressed as the PBSM grid join, spliced in from the
# one core in operators/spatial_join.py (exploded_sql, grown_sql, on_sql:
# the same text spatial_join and distance_join run) — each side exploded
# to the fixed-grid cells its bbox overlaps, equi-joined on cell id (a
# plain shuffled hash join), bbox-overlap prefilter + reference-point
# dedup in the ON conjunction, the ORIGINAL predicate kept verbatim as
# the exact filter. st_dwithin(a.g, b.g, d) gets the distance_join form:
# the FIRST table's bbox grows by d before cell explosion (one-sided —
# sufficient, half the fan-out), the bbox-GAP test gapx²+gapy²≤d² prunes
# on the unexpanded boxes, and the original st_dwithin runs last. This
# module keeps only what the text path needs: the FROM/predicate
# matchers, the head/tail/star soundness checks and the derived tables.
#
# Soundness envelope (anything outside falls through UNCHANGED):
# - both predicate args must be alias-qualified columns of the two
#   joined tables (one each side);
# - the text after the predicate must continue with AND / a clause
#   keyword / end — an OR would defeat reference-point dedup (each
#   bbox-overlapping pair appears once per shared cell);
# - queries with a bare ``*`` / ``alias.*`` select item fall through:
#   the rewrite adds internal __l_*/__r_* columns a star would leak
#   (count(*) is fine — not a star select item);
# - every supported predicate (intersects/contains/within/covers/
#   crosses/touches/overlaps/equals) IMPLIES bbox overlap, so the
#   prefilter is necessary-not-sufficient and the kept original
#   predicate makes the result exact. Trailing AND conjuncts in the ON
#   clause compose untouched.

_J_PREDS = ("st_intersects|st_contains|st_within|st_covers|st_crosses"
            "|st_touches|st_overlaps|st_equals")
_NOT_KW = (r"(?!(?:INNER|JOIN|LEFT|RIGHT|FULL|CROSS|ON|WHERE|GROUP|ORDER"
           r"|LIMIT|HAVING|UNION|EXCEPT|INTERSECT|AS|USING|NATURAL"
           r"|SEMI|ANTI)\b)")
_J_ALIAS1 = rf"(?:\s+(?:AS\s+)?{_NOT_KW}(?P<a1>{_SEG}))?"
_J_ALIAS2 = rf"(?:\s+(?:AS\s+)?{_NOT_KW}(?P<a2>{_SEG}))?"

# the FROM head (two forms) and the predicate are matched SEPARATELY:
# the text between them — leading equi/filter conjuncts
# ending in AND — is validated by _j_head_sound and kept verbatim, so
# both ``JOIN b ON a.id = b.id AND st_*(a.g, b.g)`` and the PostGIS
# comma-join idiom ``FROM a, b WHERE [conjuncts AND] st_*(a.g, b.g)``
# reach the same PBSM rewrite as the predicate-first ON form.
_J_FROM_JOIN = re.compile(
    rf"\bFROM\s+(?P<t1>{_IDENT}){_J_ALIAS1}"
    rf"\s+(?:INNER\s+)?JOIN\s+(?P<t2>{_IDENT}){_J_ALIAS2}\s+ON\s+",
    re.IGNORECASE,
)
_J_FROM_COMMA = re.compile(
    rf"\bFROM\s+(?P<t1>{_IDENT}){_J_ALIAS1}"
    rf"\s*,\s*(?P<t2>{_IDENT}){_J_ALIAS2}\s+WHERE\s+",
    re.IGNORECASE,
)
# fn(a.g, b.g), and st_dwithin(a.g, b.g, d): the d is there iff fn is st_dwithin
_J_PRED = re.compile(
    rf"(?P<pred>(?P<fn>{_J_PREDS}|st_dwithin)\s*\(\s*(?P<q1>{_SEG})\s*\.\s*(?P<g1>{_SEG})"
    rf"\s*,\s*(?P<q2>{_SEG})\s*\.\s*(?P<g2>{_SEG})\s*(?:,\s*(?P<d>{_NUM})\s*)?\))",
    re.IGNORECASE,
)
_J_CLAUSE = ("WHERE|GROUP|ORDER|LIMIT|HAVING|UNION|EXCEPT|INTERSECT"
             "|JOIN|INNER|LEFT|RIGHT|FULL|CROSS|WINDOW")
_J_CLAUSE_KW = re.compile(rf"^(?:{_J_CLAUSE})$", re.IGNORECASE)
_STAR_SELECT = re.compile(
    rf"(?:\bSELECT\s+(?:ALL\s+|DISTINCT\s+)?|,\s*)(?:{_SEG}\s*\.\s*)?\*",
    re.IGNORECASE,
)
_J_TAIL_HEAD = re.compile(rf"^\s*(?:$|;|\)|(?:AND|{_J_CLAUSE})\b)", re.IGNORECASE)


def _j_tail_sound(tail: str) -> bool:
    """True iff the text FOLLOWING the matched ON predicate keeps the
    rewrite sound: the rest of the ON clause (everything up to the next
    clause keyword / closing paren / end, at paren depth 0) must
    contain NO top-level OR — an OR anywhere at the predicate's
    precedence level would let rows bypass the cell equi-join and the
    reference-point dedup (lost pairs where bboxes share no cell,
    duplicated pairs where they share several). 'AND x AND y' composes;
    'AND x OR y' does not (AND binds tighter, so the OR still sits at
    top level). ``tail`` is masked text (see :func:`_mask`), so a
    literal or identifier containing ' or ' can't false-positive (nor
    false-terminate on a quoted keyword). The head must also be an
    AND / clause keyword / terminator — an operator continuation like
    '= false' or 'IS NULL' would bind to the predicate itself and the
    injected conjunction would change its meaning."""
    if not _J_TAIL_HEAD.match(tail):
        return False
    for tok, _ in _depth0(tail):
        if tok in (")", ";") or _J_CLAUSE_KW.match(tok):
            return True              # ON clause closed or ended
        if tok.upper() == "OR":
            return False
    return True


def _j_head_sound(head: str) -> bool:
    """True iff the text BETWEEN the clause keyword (ON / WHERE) and the
    matched predicate keeps the rewrite sound: empty, or a run of
    AND-composed conjuncts ending in ``AND`` — which guarantees the
    predicate is a TOP-LEVEL conjunct of that clause (not under NOT, a
    function call, an OR arm, or a different clause altogether). The
    head is kept verbatim in the rewritten ON conjunction, so anything
    whose placement could change meaning falls through: a top-level OR
    (the predicate would be one OR arm), any clause keyword (the
    predicate sits in a LATER clause than the one matched — e.g. the
    WHERE of a JOIN query, or past a UNION), a depth-0 close paren
    (different scope), a semicolon, or unbalanced opens (the predicate
    is inside a paren group). ``head`` is masked like _j_tail_sound's.
    Mis-detections only ever fall through — never a wrong rewrite."""
    if head.strip() == "":
        return True
    for tok, _ in _depth0(head):
        if tok in ("(", ")", ";") or tok.upper() == "OR" or _J_CLAUSE_KW.match(tok):
            return False
    return re.search(r"\bAND\s*$", head, re.IGNORECASE) is not None


def _j_norm(seg: str) -> str:
    return seg.strip("`").lower()


def _j_side(tbl: str, alias: str, geom: str, side: str, cs: float,
            expand: float | None = None) -> str:
    """One join side as a derived table: bbox (+d-expanded ebox for
    dwithin) then the cell generator, which emits the boxes with the
    cells (``exploded_sql``), aliased back to the user's alias so every
    qualified reference in the rest of the query still resolves."""
    boxes = [f"__{side}_bbox"]
    inner = f"(SELECT *, st_extentFromGeom({geom}) AS __{side}_bbox0 FROM {tbl}) __sj_{side}0"
    if expand is not None:
        inner = f"(SELECT *, {grown_sql(boxes[0] + '0', expand)} AS __{side}_ebox0 FROM {inner}) __sj_{side}1"
        boxes.append(f"__{side}_ebox")
    kept = ", ".join(b + "0" for b in boxes)
    return f"(SELECT * EXCEPT ({kept}), {exploded_sql(side, boxes, cs)} FROM {inner}) {alias}"


def rewrite_spatial_join(sql: str, cell_size: float = 1.0) -> str:
    """Textual rewrite of geometry×geometry JOIN predicates into the
    PBSM grid join (distance_join form for st_dwithin). Pure function of
    the SQL string — inspect the result to see exactly what will run.
    Unrecognized or unsound shapes (see the soundness envelope above)
    return unchanged. ``cell_size`` is the PBSM grid size for predicate
    joins; dwithin uses ``max(d, cell_size)`` so the d-expansion adds at
    most ~2 cells per axis.

    Recognized FROM shapes (both beyond the reference, whose
    rules match Filter nodes only, SpatialFilterPushdownRules.scala:35-38):
    ``FROM t1 [a] JOIN t2 [b] ON [conjuncts AND] st_*(a.g, b.g) [...]``
    and the PostGIS comma-join idiom
    ``FROM t1 [a], t2 [b] WHERE [conjuncts AND] st_*(a.g, b.g) [...]``.
    The comma form becomes ``FROM <pbsm> JOIN <pbsm> ON ... WHERE TRUE``
    with the rest of the WHERE clause appended verbatim — for the inner
    join both spellings are the same relation. Leading conjuncts must
    pass _j_head_sound (AND-composed, ending in AND); they stay in the
    ON conjunction unchanged."""
    # every pattern and soundness check runs on the masked text (see
    # _mask): a join spelled inside a literal or a comment is not one,
    # and 'SELECT /*+ hint */ *' must not slip past the star guard
    masked = _mask(sql)
    if _STAR_SELECT.search(masked):
        return sql

    def _go(fm: re.Match, src: str, masked: str) -> tuple[str, int] | None:
        """Try to rewrite the clause opened by FROM-head match ``fm``
        (found on ``masked``); returns (replacement, end-of-consumed-span)
        or None."""
        pm = next((m for m in _J_PRED.finditer(masked, fm.end())
                   if (m.group("fn").lower() == "st_dwithin") == (m.group("d") is not None)), None)
        if pm is None:
            return None
        if not _j_head_sound(masked[fm.end():pm.start()]):
            return None
        if not _j_tail_sound(masked[pm.end():]):
            return None
        head = src[fm.end():pm.start()]
        f, p = _Orig(fm, src), _Orig(pm, src)
        d = None if p.group("d") is None else float(p.group("d"))
        if d is not None and d < 0:
            return None
        a1 = f.group("a1") or f.group("t1").split(".")[-1]
        a2 = f.group("a2") or f.group("t2").split(".")[-1]
        q1, q2 = _j_norm(p.group("q1")), _j_norm(p.group("q2"))
        al, bl = _j_norm(a1), _j_norm(a2)
        if q1 == q2 or {q1, q2} != {al, bl}:
            return None
        # the geometry column belonging to each side, whichever arg
        # order the predicate used
        g_l = p.group("g1") if q1 == al else p.group("g2")
        g_r = p.group("g2") if q1 == al else p.group("g1")
        cs = max(float(d), float(cell_size)) if d is not None else float(cell_size)
        left = _j_side(f.group("t1"), a1, g_l, "l", cs, expand=d)
        right = _j_side(f.group("t2"), a2, g_r, "r", cs)
        on = on_sql(a1, a2, cs, "__l_bbox" if d is None else "__l_ebox", d)
        rep = f"FROM {left} JOIN {right} ON {on} AND {head}{p.group('pred')}"
        if fm.re is _J_FROM_COMMA:
            rep += " WHERE TRUE"
        return rep, pm.end()

    out = sql
    for rx_ in (_J_FROM_JOIN, _J_FROM_COMMA):
        pos = 0
        while True:
            fm = rx_.search(masked, pos)
            if fm is None:
                break
            got = _go(fm, out, masked)
            if got is None:
                pos = fm.end()
                continue
            rep, span_end = got
            out = out[: fm.start()] + rep + out[span_end:]
            masked = _mask(out)
            pos = fm.start() + len(rep)
    return out


# ---------------------------------------------------------------------------
# st_convexhull two-phase rewrite
# ---------------------------------------------------------------------------
# The SQL-registered ``st_convexhull`` is a GROUPED_AGG pandas UDF
# (operators/convex_hull_agg.py:register_convex_hull_udaf) — Spark runs
# those in COMPLETE mode only, so every group's full geometry payload
# funnels through ONE task: a global hull in raw SQL ships every
# geometry to one executor at 100 TB. The API path (convex_hull_agg)
# is two-phase; this rewrite makes the SQL name reach the same plan in
# SQL TEXT, exactly like the JOIN rewrite above:
#
#   SELECT k, st_convexhull(g) AS h FROM t GROUP BY k
# becomes
#   SELECT __gk0 AS k, st_convexhull(__ph0) AS h FROM (
#     SELECT k AS __gk0, st_convexhull(g) AS __ph0
#     FROM (SELECT *, spark_partition_id() AS __pid FROM t) t
#     GROUP BY k, __pid
#   ) __cvx GROUP BY __gk0
#
# Phase 1 reduces each (group, input-partition) slice to one tiny hull
# (hull-of-hulls == hull-of-all — convexity), restoring full
# parallelism for skewed/huge groups; phase 2 merges the few-dozen-point
# partials. spark_partition_id() is nondeterministic, so it is
# PROJECTED in a wrapping subquery first (grouping by the projected
# column is legal; grouping by the raw call is not).
#
# Soundness envelope (anything outside returns unchanged):
# - single bare table/view source (optional alias) — no joins or
#   subqueries in FROM;
# - every select item is either st_convexhull(<args>) AS alias
#   (explicit alias required — the rewritten auto-name would differ)
#   or a group-key expression present verbatim in GROUP BY (bare
#   possibly-qualified identifier, or any expression with an explicit
#   alias); mixed OTHER aggregates (count/sum/...) fall through — they
#   would need their own partial/merge algebra;
# - optional WHERE (stays in phase 1); optional trailing ORDER BY /
#   LIMIT (stay on the outer query); HAVING / DISTINCT / set ops /
#   comments / anything unrecognized falls through.

_CVX_CALL = re.compile(r"\bst_convexhull\s*\(", re.IGNORECASE)
_CVX_STOP_KW = re.compile(
    r"^(?:HAVING|UNION|EXCEPT|INTERSECT|WINDOW|DISTINCT|JOIN|LATERAL"
    r"|QUALIFY|CLUSTER|DISTRIBUTE|SORT|INNER|LEFT|RIGHT|FULL|CROSS)$",
    re.IGNORECASE,
)
_CVX_SRC = re.compile(
    rf"^(?P<t>{_IDENT})(?:\s+(?:AS\s+)?{_NOT_KW}(?P<a>{_SEG}))?$",
    re.IGNORECASE,
)
_CVX_HULL_ITEM = re.compile(
    rf"^st_convexhull\s*\((?P<args>.+)\)\s+AS\s+(?P<alias>{_SEG})$",
    re.IGNORECASE | re.DOTALL,
)
_CVX_BARE_ID = re.compile(rf"^{_IDENT}$")


def _cvx_scan(masked: str):
    """(word_upper, start) for each word at paren depth 0, plus each
    depth-0 comma as (',', pos), of masked text; None if the parens are
    unbalanced or a semicolon appears before the end."""
    out = []
    for tok, i in _depth0(masked):
        if tok in ("(", ")") or (tok == ";" and masked[i:].strip() != ";"):
            return None
        if tok != ";":
            out.append((tok.upper(), i))
    return out


def _cvx_split_commas(seg: str) -> list[str]:
    toks = _cvx_scan(_mask(seg))
    if toks is None:
        return []
    cuts = [p for w, p in toks if w == ","]
    parts, prev = [], 0
    for c in cuts:
        parts.append(seg[prev:c].strip())
        prev = c + 1
    parts.append(seg[prev:].strip())
    return parts


def _cvx_norm(expr: str) -> str:
    return re.sub(r"\s+", " ", expr.strip().strip("`")).lower()


_EXT_CALL = re.compile(r"\bst_extent\s*\(", re.IGNORECASE)
_EXT_AGG_ITEM = re.compile(
    rf"^st_extent\s*\((?P<args>.+)\)\s+AS\s+(?P<alias>{_SEG})$",
    re.IGNORECASE | re.DOTALL,
)


def _ext_outer(j: int) -> str:
    """Fully NATIVE extent merge over the projected per-row bbox —
    min/max with map-side combine in whole-stage codegen, zero Python
    rows after the one bbox projection; NaN-guarded (a NaN would win
    max), NULL fields skip natively, and an all-NULL group collapses
    to NULL via st_extenttogeom's null-in→null-out."""
    def mm(op: str, f: str) -> str:
        return (f"{op}(CASE WHEN isnan(__bb{j}.{f}) THEN NULL "
                f"ELSE __bb{j}.{f} END)")
    return (
        "st_extenttogeom(named_struct("
        f"'xmin', {mm('min', 'xmin')}, 'ymin', {mm('min', 'ymin')}, "
        f"'xmax', {mm('max', 'xmax')}, 'ymax', {mm('max', 'ymax')}))"
    )


def rewrite_convexhull_agg(sql: str) -> str:
    """Textual rewrite of ``st_convexhull`` aggregate queries into the
    two-phase partial-hull / hull-of-hulls shape (see the envelope
    above). Pure function; unsupported shapes return unchanged."""
    return _rewrite_spatial_agg(
        sql, _CVX_CALL, _CVX_HULL_ITEM,
        inner_fmt=lambda args, j: f"st_convexhull({args}) AS __ph{j}",
        outer_fmt=lambda args, j: f"st_convexhull(__ph{j})",
        two_phase=True,
    )


def rewrite_extent_agg(sql: str) -> str:
    """Textual rewrite of ``st_extent`` aggregate queries (the
    PostGIS ST_Extent idiom, registered here as a GROUPED_AGG
    returning the bbox POLYGON in WKB) into a FULLY NATIVE plan: the
    inner query projects each row's bbox once
    (st_extentfromgeom — one pandas-UDF column, the only Python), the
    outer aggregates native NaN-guarded min/max over its four fields
    (map-side combine, whole-stage codegen) and rebuilds the polygon
    with one st_extenttogeom call PER GROUP. Same soundness envelope
    as the convexhull rewrite; unsupported shapes fall through to the
    registered single-phase UDAF."""
    return _rewrite_spatial_agg(
        sql, _EXT_CALL, _EXT_AGG_ITEM,
        inner_fmt=lambda args, j: f"st_extentfromgeom({args}) AS __bb{j}",
        outer_fmt=lambda args, j: _ext_outer(j),
        two_phase=False,
    )


def _rewrite_spatial_agg(sql: str, call_re, item_re, inner_fmt,
                         outer_fmt, two_phase: bool) -> str:
    """Shared aggregate-rewrite engine (see the envelope above the
    convexhull section): parses the single-table SELECT skeleton,
    classifies items into group keys and recognized aggregate calls,
    and re-emits either the two-phase (group, spark_partition_id)
    partial/merge shape (``two_phase=True`` — for pandas UDAFs with
    no partial merge) or a plain project-then-native-aggregate shape
    (``two_phase=False``)."""
    # clause slices are pasted verbatim, so a comment (or an unterminated
    # token) anywhere falls through; the scans run on masked text
    masked = _mask(sql)
    if not call_re.search(masked) or not all(
            quoted and j < len(sql) for _, j, quoted in _lexemes(sql)):
        return sql
    toks = _cvx_scan(masked)
    if not toks:
        return sql
    # top-level clause skeleton: SELECT ... FROM ... [WHERE] [GROUP BY]
    # [ORDER BY] [LIMIT]; anything else at top level falls through
    kw_pos: dict[str, int] = {}
    order: list[str] = []
    for w, p in toks:
        if w == ",":
            continue
        if _CVX_STOP_KW.match(w):
            return sql
        if w in ("SELECT", "FROM", "WHERE", "GROUP", "ORDER", "LIMIT"):
            if w in kw_pos:
                return sql
            kw_pos[w] = p
            order.append(w)
    if order[:2] != ["SELECT", "FROM"] or masked[:kw_pos["SELECT"]].strip():
        return sql
    if [k for k in order[2:]] != [
        k for k in ("WHERE", "GROUP", "ORDER", "LIMIT") if k in kw_pos
    ]:
        return sql

    def clause(kw: str, skip: int) -> str:
        if kw not in kw_pos:
            return ""
        start = kw_pos[kw] + skip
        nxt = [kw_pos[k] for k in order[order.index(kw) + 1:]]
        return sql[start: min(nxt) if nxt else len(sql)].strip().rstrip(";").strip()

    items_txt = clause("SELECT", 6)
    src_txt = clause("FROM", 4)
    where_txt = clause("WHERE", 5)
    group_txt = clause("GROUP", 5)
    if group_txt:
        mg = re.match(r"^BY\b", group_txt, re.IGNORECASE)
        if not mg:
            return sql
        group_txt = group_txt[2:].strip()
    tail = ""
    tail_start = min(
        [kw_pos[k] for k in ("ORDER", "LIMIT") if k in kw_pos], default=None
    )
    if tail_start is not None:
        tail = sql[tail_start:].strip().rstrip(";").strip()

    sm = _CVX_SRC.match(src_txt)
    if not sm:
        return sql
    alias = sm.group("a") or sm.group("t").split(".")[-1]

    keys = _cvx_split_commas(group_txt) if group_txt else []
    if group_txt and not all(keys):
        return sql
    key_norms = [_cvx_norm(k) for k in keys]
    items = _cvx_split_commas(items_txt)
    if not items or not all(items):
        return sql

    inner_items: list[str] = [f"{k} AS __gk{i}" for i, k in enumerate(keys)]
    outer_items: list[str] = []
    n_hulls = 0
    for it in items:
        if call_re.search(_mask(it)):
            hm = item_re.match(it)
            if not hm:
                return sql
            args = hm.group("args")
            if _cvx_scan(_mask(args)) is None or call_re.search(_mask(args)):
                return sql
            inner_items.append(inner_fmt(args, n_hulls))
            outer_items.append(
                f"{outer_fmt(args, n_hulls)} AS {hm.group('alias')}"
            )
            n_hulls += 1
            continue
        # group-key item: strip an explicit trailing alias if present
        am = re.match(
            rf"^(?P<expr>.+?)\s+AS\s+(?P<alias>{_SEG})$", it,
            re.IGNORECASE | re.DOTALL,
        )
        expr = am.group("expr") if am else it
        out_name = am.group("alias") if am else None
        if out_name is None:
            if not _CVX_BARE_ID.match(expr.strip()):
                return sql
            out_name = expr.strip().split(".")[-1]
        try:
            ki = key_norms.index(_cvx_norm(expr))
        except ValueError:
            return sql
        outer_items.append(f"__gk{ki} AS {out_name}")
    if n_hulls == 0:
        return sql

    if two_phase:
        src = (f"(SELECT *, spark_partition_id() AS __pid "
               f"FROM {src_txt}) {alias}")
    else:
        src = src_txt
    inner = f"SELECT {', '.join(inner_items)} FROM {src}"
    if where_txt:
        inner += f" WHERE {where_txt}"
    if two_phase:
        # phase-1 grouping uses the ORIGINAL key expressions plus __pid
        # (the __gk aliases are select-list output names, not in scope)
        inner += " GROUP BY " + ", ".join(list(keys) + ["__pid"])
    out = f"SELECT {', '.join(outer_items)} FROM ({inner}) __cvx"
    if keys:
        out += " GROUP BY " + ", ".join(
            f"__gk{i}" for i in range(len(keys)))
    if tail:
        out += f" {tail}"
    return out


# ---------------------------------------------------------------------------
# typed rewrite: column types from the catalog, WKT literals folded
# ---------------------------------------------------------------------------

_REL_HEAD = re.compile(r"\b(?:FROM|JOIN)\s+", re.IGNORECASE)
# a relation name (up to catalog.db.table) not followed by more name or
# by '(' (a table-valued function), with its optional alias
_REL_ITEM = re.compile(
    rf"(?P<t>{_SEG}(?:\.{_SEG}){{0,2}})(?![\w.`]|\s*\()"
    rf"(?:\s+(?:AS\s+)?{_NOT_KW}(?P<a>{_SEG}))?",
    re.IGNORECASE,
)
_REL_COMMA = re.compile(r"\s*,\s*")
_CTE_NAME = re.compile(
    rf"(?:\bWITH(?:\s+RECURSIVE)?\s+|,\s*)(?P<n>{_SEG})\s*(?:\([^()]*\)\s*)?AS\s*\(",
    re.IGNORECASE,
)
_COL_REF = re.compile(rf"(?:(?P<q>{_SEG})\.)?(?P<c>{_SEG})")
_WKT_CALL = re.compile(rf"\b{_WKT}", re.IGNORECASE)


def _relations(spark, sql: str) -> list:
    """(qualifier, schema or None) of every relation named after
    FROM/JOIN in ``sql``: the alias, else the table's own name, and
    ``spark.table(name).schema`` — None for a CTE name or a name the
    catalog cannot resolve."""
    masked = _mask(sql)
    ctes = {_j_norm(_Orig(m, sql).group("n")) for m in _CTE_NAME.finditer(masked)}
    schemas: dict[str, object] = {}
    rels = []
    for head in _REL_HEAD.finditer(masked):
        pos = head.end()
        while (m := _REL_ITEM.match(masked, pos)) is not None:
            o = _Orig(m, sql)
            name, alias = o.group("t"), o.group("a")
            if name not in schemas:
                schemas[name] = None
                if _j_norm(name) not in ctes:
                    try:
                        schemas[name] = spark.table(name).schema
                    except Exception:
                        pass
            rels.append((_j_norm(alias or re.findall(_SEG, name)[-1]), schemas[name]))
            comma = _REL_COMMA.match(masked, m.end())
            if comma is None:
                break
            pos = comma.end()
    return rels


def _column_types(spark, sql: str):
    """``(is_extent, points_of)`` for :func:`_rewrite_predicates`, from
    the schemas of :func:`_relations` (looked up on the first call
    only). ``is_extent(col)``: a column found only as an extent struct
    is True, one found only with other types is False; a column of a
    CTE, a subquery or a relation the catalog cannot resolve, or one
    found with both, is None. ``points_of(col)``: the geometry and
    covering column text (qualified as ``col`` is) when ``col`` is found
    in exactly one relation, every relation that could hold it is
    resolved, and its field metadata says it holds points
    (:func:`native_points.point_columns`); else None."""
    rels = []

    def candidates(col: str):
        """(qualifier text, column name, [(schema or None)]) of the
        relations that may hold ``col``; None if it is no column ref."""
        if not rels:
            rels.append(_relations(spark, sql))
        ref = _COL_REF.fullmatch(col)
        if ref is None:
            return None
        q = ref.group("q") and _j_norm(ref.group("q"))
        c = _j_norm(ref.group("c"))
        found = [schema for qual, schema in rels[0] if q is None or q == qual]
        return ref.group("q"), c, found

    def is_extent(col: str):
        got = candidates(col)
        if got is None:
            return None
        q, c, schemas = got
        found = set()
        for schema in schemas:
            if schema is None:
                if q is not None:
                    return None
                continue
            found.update(is_extent_type(f.dataType) for f in schema.fields
                         if f.name.lower() == c)
        return found.pop() if len(found) == 1 else None

    def points_of(col: str):
        got = candidates(col)
        if got is None or None in got[2]:
            return None
        q, c, schemas = got
        holding = [s for s in schemas if any(f.name.lower() == c for f in s.fields)]
        cols = point_columns(holding[0], c) if len(holding) == 1 else None
        return cols and tuple(f"{q}.{quoted(n)}" if q else quoted(n) for n in cols)

    return is_extent, points_of


def _fold_wkt(sql: str) -> str:
    """Every ``st_geomFromWKT('<literal>')`` whose WKT parses, as the
    binary literal ``X'<wkb>'`` the UDF would build for every row."""
    from geomesa_hive_spark.geom import to_wkb

    out, pos = [], 0
    for m in _WKT_CALL.finditer(_mask(sql)):
        g = _wkt_geom(_Orig(m, sql).group(1))
        if g is not None:
            out += [sql[pos:m.start()], f"X'{to_wkb(g).hex().upper()}'"]
            pos = m.end()
    return "".join(out + [sql[pos:]]) if out else sql


def _rewrite(session, sql: str) -> str:
    """The one rewrite chain: aggregate and join rewrites, then the
    predicate rewrite — typed, with WKT literals folded, when
    ``session`` has a catalog (a ``table`` method), else untyped."""
    sql = rewrite_spatial_join(rewrite_extent_agg(rewrite_convexhull_agg(sql)))
    if not callable(getattr(session, "table", None)):
        return rewrite_spatial_predicates(sql)
    return _fold_wkt(_rewrite_predicates(sql, *_column_types(session, sql)))


_log = logging.getLogger(__name__)
# PySpark's query-error logger writes each analysis error with its JVM
# stack; its records are dropped in a thread while that thread tries a
# rewritten text, and pass in every other thread
_trying = threading.local()
PySparkLogger.getLogger("SQLQueryContextLogger").addFilter(
    lambda record: not getattr(_trying, "on", False))


def _run_rewritten(session, run, sql: str, *args, **kwargs):
    """Hand ``run`` (``session``'s ``spark.sql``) the rewritten ``sql``;
    the chain both :func:`spatial_sql` and the :func:`install` wrapper
    run. If the rewritten text fails analysis — a rewrite the catalog
    could not type: a CTE or subquery column, or a join or aggregate
    rewrite over unexpected column types — one WARNING names the error
    condition and the untouched query runs; a failure of that query
    raises and logs as usual."""
    rewritten = _rewrite(session, sql)
    if rewritten != sql:
        _trying.on = True
        try:
            return run(rewritten, *args, **kwargs)
        except Exception as e:
            cond = getattr(e, "getCondition", lambda: None)() or type(e).__name__
            _log.warning("spatial rewrite failed (%s); running the query as written", cond)
        finally:
            _trying.on = False
    return run(sql, *args, **kwargs)


def spatial_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Run a raw SQL string with spatial-filter pushdown.

    The session-wide entry point a reference user would swap
    ``spark.sql`` for. Recognized geometry×geometry JOIN predicates
    route to the PBSM grid join (:func:`rewrite_spatial_join`); a
    predicate is then rewritten to bbox comparisons only where the
    session's catalog types its column as an extent struct (a binary
    geometry column is left as is), and every parseable
    ``st_geomFromWKT('...')`` literal is folded to its WKB bytes. See
    the module docstring for the fallback that remains for columns the
    catalog cannot type."""
    return _run_rewritten(spark, spark.sql, sql)


_ORIGINAL_ATTR = "_geomesa_hive_spark_original_sql"


def install(spark: SparkSession) -> SparkSession:
    """Session-wide opt-in: wrap ``spark.sql`` so every raw SQL string
    goes through the typed rewrite of :func:`spatial_sql` — reference
    parity with the ``spark.sql.extensions`` rule installation
    (``SpatialFilterPushdownOptimizations.scala:22-24``), which makes
    the pushdown apply to users who never heard of :func:`spatial_sql`.

    The wrapper preserves the full ``spark.sql(query, args=..., **kw)``
    signature (rewrite applies to string queries only), types columns
    from the session's catalog exactly as :func:`spatial_sql` does, and
    is idempotent — installing twice keeps a single layer. Restore the
    pristine session with :func:`uninstall`."""
    if getattr(spark, _ORIGINAL_ATTR, None) is not None:
        return spark
    original = spark.sql

    def _sql(query, *args, **kwargs):
        if isinstance(query, str):
            return _run_rewritten(spark, original, query, *args, **kwargs)
        return original(query, *args, **kwargs)

    setattr(spark, _ORIGINAL_ATTR, original)
    # instance attribute shadows the class method; uninstall deletes it
    spark.sql = _sql
    return spark


def uninstall(spark: SparkSession) -> SparkSession:
    """Undo :func:`install`, restoring the class-level ``spark.sql``.
    No-op on a session that was never wrapped."""
    if getattr(spark, _ORIGINAL_ATTR, None) is not None:
        spark.__dict__.pop("sql", None)
        delattr(spark, _ORIGINAL_ATTR)
    return spark
