"""Distributed spatial join: geometry × geometry, no cross join.

The reference has no join operator at all — its users fall back to a
Cartesian ``ST_Intersects`` filter, which dies at scale. This is the
standard partition-based spatial-merge join (PBSM / GeoSpark-style)
re-expressed in Spark SQL expressions so every stage is a stock Spark
shuffle. Each plan piece is defined once, as SQL text (``cells_sql``,
``grown_sql``, ``on_sql``): the DataFrame joins here run it through
``F.expr``, and the SQL join rewrite (``spatial_sql.rewrite_spatial_join``)
splices the same text into the query, so both surfaces plan one join:

1. each side's geometry bbox is exploded to the fixed-grid cells it
   overlaps (native ``sequence``/``transform``/``explode`` expressions —
   a point lands in exactly one cell);
2. candidates = equi-join on cell id (hash shuffle both sides on the
   SAME key → co-located, no broadcast needed at any scale);
3. a native bbox-overlap conjunction prunes non-touching candidates
   before anything expensive runs;
4. duplicate pair suppression via the reference-point rule: a pair is
   kept only in the one cell that contains the reference corner
   ``(max(xmin_a, xmin_b), max(ymin_a, ymin_b))`` of the bbox overlap —
   dedup happens inside the joined partition, NOT as a global distinct
   (which would be a second full shuffle of the candidate stream);
5. the exact geometry predicate (pandas UDF over the WKB pair) runs
   last, on the few bbox-confirmed survivors.

At 100 TB the only tunables are ``cell_size`` (match it to the p95
geometry extent so most rows explode to ≤4 cells) and the shuffle
partition count; skewed cells (cities, null islands) are handled by
AQE skew-join splitting since stage 2 is a plain shuffled hash join.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "spatial_join", "spatial_knn_join",
    "distance_join", "distance_join_sphere",
]

# grid-cell encoding: cell = (ix + OFFSET) * STRIDE + (iy + OFFSET).
# OFFSET = 2^30 supports |coord / cell_size| up to ~1.07e9 — degree
# grids down to ~1.7e-7° cells or projected-meter grids to ±2^30 m —
# while (ix + OFFSET) * STRIDE + (iy + OFFSET) < 2^62 stays a positive
# long. Indices outside that range raise at runtime (assert_true in
# cells_sql) instead of silently aliasing far-apart cells.
_OFFSET = 1 << 30
_STRIDE = 1 << 31
_BOUNDS = ("xmin", "ymin", "xmax", "ymax")

_PREDICATES = {
    "intersects": "st_intersects",
    "contains": "st_contains",
    "within": "st_within",
    "covers": "st_covers",
    "crosses": "st_crosses",
    "touches": "st_touches",
    "overlaps": "st_overlaps",
    "equals": "st_equals",
}


# ---------------------------------------------------------------------------
# the PBSM core, as SQL text
# ---------------------------------------------------------------------------
# One definition of each plan piece. The DataFrame joins below run it
# through F.expr; rewrite_spatial_join (operators/spatial_sql.py) splices
# the same text into the query. A left side carries __l_bbox and
# __l_cell (plus __l_ebox, the grown box its cells come from, in the
# distance joins); a right side carries __r_bbox and __r_cell.

def _num(v: float) -> str:
    """A double literal (an infinity has none, so it is cast from text)."""
    v = float(v)
    return f"{v!r}D" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"


def _index(v: str, cs: float) -> str:
    """Grid index of the coordinate expression ``v``."""
    return f"CAST(floor({v} / {_num(cs)}) AS BIGINT)"


def _cell_id(ix: str, iy: str) -> str:
    return f"({ix} + {_OFFSET}L) * {_STRIDE}L + {iy} + {_OFFSET}L"


def cells_sql(box: str, cs: float) -> str:
    """ARRAY<BIGINT> of the encoded cells the struct ``box`` overlaps.

    A box with a NULL or NaN in any bound (a null or empty geometry) has
    no extent: NULL, which explode drops, so it never joins. Indices at
    or past the encoding capacity raise instead of aliasing cells."""
    ix0, iy0, ix1, iy1 = (_index(f"{box}.{c}", cs) for c in _BOUNDS)
    no_extent = " OR ".join(f"{box}.{c} IS NULL OR isnan({box}.{c})" for c in _BOUNDS)
    in_range = (f"{ix0} > {-_OFFSET}L AND {ix1} < {_OFFSET}L AND "
                f"{iy0} > {-_OFFSET}L AND {iy1} < {_OFFSET}L")
    grid = (f"flatten(transform(sequence({ix0}, {ix1}), __ix -> "
            f"transform(sequence({iy0}, {iy1}), __iy -> {_cell_id('__ix', '__iy')})))")
    return (
        f"CASE WHEN {no_extent} THEN CAST(NULL AS ARRAY<BIGINT>) "
        f"WHEN assert_true({in_range}, 'spatial join: grid index exceeds encoding "
        f"capacity (|coord/cell_size| must stay < {_OFFSET}); increase cell_size') "
        f"IS NULL THEN {grid} END"
    )


def grown_sql(box: str, d: float) -> str:
    """The struct ``box`` grown by ``d`` on every side."""
    d = _num(d)
    return (f"named_struct('xmin', {box}.xmin - {d}, 'ymin', {box}.ymin - {d}, "
            f"'xmax', {box}.xmax + {d}, 'ymax', {box}.ymax + {d})")


def on_sql(left: str, right: str, cs: float, lbox: str = "__l_bbox", d: float | None = None) -> str:
    """The ON conjunction of the sides qualified ``left`` and ``right``: cell
    equi-key; overlap of the left box ``lbox`` with the right bbox;
    reference-point dedup (a pair is kept only in the cell that owns the
    lower-left corner of the two boxes' intersection, so a pair sharing
    several cells meets once, with no global distinct); and, given
    ``d``, the dwithin prune gapx² + gapy² <= d² on the unexpanded
    bboxes."""
    lb, rb, ub = f"{left}.{lbox}", f"{right}.__r_bbox", f"{left}.__l_bbox"
    overlap = (f"{lb}.xmin <= {rb}.xmax AND {lb}.xmax >= {rb}.xmin AND "
               f"{lb}.ymin <= {rb}.ymax AND {lb}.ymax >= {rb}.ymin")
    ref = _cell_id(_index(f"greatest({lb}.xmin, {rb}.xmin)", cs),
                   _index(f"greatest({lb}.ymin, {rb}.ymin)", cs))
    conds = [f"{left}.__l_cell = {right}.__r_cell", overlap, f"{left}.__l_cell = {ref}"]
    if d is not None:
        gx, gy = (f"greatest(0.0D, greatest({ub}.{c}min, {rb}.{c}min) - least({ub}.{c}max, {rb}.{c}max))"
                  for c in "xy")
        conds.append(f"{gx} * {gx} + {gy} * {gy} <= {_num(float(d) * float(d))}")
    return " AND ".join(conds)


def _boxed(df: DataFrame, geom: str, bbox: str | None, side: str) -> DataFrame:
    """``df`` plus its bbox as __<side>_bbox: the stored one, else derived."""
    box = F.col(bbox) if bbox else F.call_function("st_extentfromgeom", F.col(geom))
    return df.withColumn(f"__{side}_bbox", box)


def exploded_sql(side: str, boxes: list[str], cs: float) -> str:
    """The generator of one join side: one row per grid cell of the last
    of the side's box columns ``boxes``, as ``__<side>_cell``, with every
    box column again. The generator reads each box as ``<name>0`` and
    emits it under ``<name>``: Spark infers ``isnotnull`` filters on the
    boxes from the ON conjunction, and a filter on a generator's output
    stays above it, where one on a projected box would be pushed under
    the projection and evaluate its ``st_extentFromGeom`` a second time."""
    fields = ", ".join(f"'{b}', {b}0" for b in boxes)
    return (f"inline(transform({cells_sql(boxes[-1] + '0', cs)}, "
            f"__c -> named_struct('__{side}_cell', __c, {fields})))")


def _exploded(df: DataFrame, side: str, cs: float) -> DataFrame:
    """One row per grid cell of the side's cell box (``__<side>_ebox``
    when there is one, else ``__<side>_bbox``), as __<side>_cell, the
    box columns coming out of the generator (:func:`exploded_sql`)."""
    boxes = [b for b in (f"__{side}_bbox", f"__{side}_ebox") if b in df.columns]
    df = df.withColumnsRenamed({b: b + "0" for b in boxes})
    return df.select("*", F.expr(exploded_sql(side, boxes, cs))).drop(*[b + "0" for b in boxes])


def _pair(fn: str, left_geom: str, right_geom: str) -> Column:
    """``fn`` over the two sides' geometries of a ``__l``/``__r`` join."""
    return F.call_function(fn, F.col(f"__l.{left_geom}"), F.col(f"__r.{right_geom}"))


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    left_geom: str = "geom",
    right_geom: str = "geom",
    left_bbox: str | None = None,
    right_bbox: str | None = None,
    cell_size: float = 1.0,
    exact: bool = True,
    broadcast_right: bool = False,
    salt: int = 1,
) -> DataFrame:
    """Inner spatial join of ``left`` × ``right`` on a geometry predicate.

    Returns all column pairs (left columns first; name collisions are the
    caller's to alias beforehand, as with any Spark join). ``exact=False``
    stops after the bbox-overlap test — correct for point × point
    "same-cell" semantics and for prefiltering pipelines that run their
    own refinement.

    ``broadcast_right=True`` is the small-dimension knob: the right
    side's exploded cell table ships to every executor and the cell
    equi-join becomes a BroadcastHashJoin — the BIG side is never
    shuffled at all (the default hash join shuffles both sides on the
    cell key). The classic case is points × admin-boundaries: 100 TB of
    points against a few thousand zone polygons should move zero point
    bytes across the network. The right side's exploded size must fit
    the broadcast budget; Spark errors past
    ``spark.sql.autoBroadcastJoinThreshold``-independent hint limits
    rather than silently degrading.

    ``salt > 1`` is the HOT-CELL knob: a clustered dataset — every geometry
    in one city — lands its whole candidate workload on the ONE reducer
    owning that cell, and AQE's skew split only rescues the sort-merge
    path when partition-size thresholds trip. Salting fixes it
    structurally: each LEFT row's cell key gains a deterministic shard
    ``xxhash64(geom) % salt`` and the RIGHT side replicates each
    exploded cell row ×salt, so one hot cell fans across ``salt``
    reducers. Every candidate pair still meets exactly once (the left
    row carries ONE shard; the replicated right matches it there), so
    reference-point dedup and the exact predicate are untouched —
    results are row-identical to ``salt=1`` (pytest-pinned). Cost:
    right-side shuffle volume ×salt — keep the replicated side the
    smaller one. Incompatible with ``broadcast_right`` (that path
    shuffles nothing, so there is no skew to split — and replicating
    the broadcast table would only inflate it).

    Register the ST surface first (``register_all(spark)``) —
    the exact predicate and the bbox derivation call the SQL functions.
    """
    if predicate not in _PREDICATES:
        raise ValueError(f"predicate must be one of {sorted(_PREDICATES)}")
    salt = int(salt)
    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    if salt > 1 and broadcast_right:
        raise ValueError(
            "salt > 1 with broadcast_right: the broadcast path has no "
            "shuffle to skew — drop one of the two"
        )
    a = _exploded(_boxed(left, left_geom, left_bbox, "l"), "l", cell_size)
    b = _exploded(_boxed(right, right_geom, right_bbox, "r"), "r", cell_size)
    on = on_sql("__l", "__r", cell_size)
    if salt > 1:
        # deterministic per-row shard over ALL left columns (not just
        # the geometry: stacked identical points would otherwise share
        # a shard and stay hot); fully-duplicate rows are genuinely
        # indistinguishable and keep sharing one
        a = a.withColumn(
            "__l_salt",
            F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]),
                   F.lit(salt)),
        )
        b = b.withColumn(
            "__r_salt",
            F.explode(F.array(*[F.lit(i) for i in range(salt)])),
        )
        on += " AND __l.__l_salt = __r.__r_salt"
    b = b.alias("__r")
    if broadcast_right:
        b = F.broadcast(b)
    cand = a.alias("__l").join(b, F.expr(on))
    if exact:
        cand = cand.filter(_pair(_PREDICATES[predicate], left_geom, right_geom))
    drop = ["__l_bbox", "__l_cell", "__r_bbox", "__r_cell"]
    if salt > 1:
        drop += ["__l_salt", "__r_salt"]
    return cand.drop(*drop)


def spatial_knn_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_xy: tuple[str, str],
    right_xy: tuple[str, str],
    k: int,
    radius: float,
) -> DataFrame:
    """Bounded-radius k-nearest-neighbor spatial join: for each left
    point, the ``k`` nearest right points within ``radius`` (planar
    distance), deterministically tie-broken by (distance², right id).

    Bounded-radius kNN is the practical form (GeoMesa's knn command is
    radius-bounded the same way, and at 100 TB an unbounded global kNN
    would need expanding-ring re-shuffles): with grid cell size =
    ``radius``, every right point within the radius of a left point
    lies in the 3×3 cell neighborhood, so ONE equi-join on cell id
    captures all candidates — the left side explodes ×9, the right
    side lands in exactly one cell, the shuffle carries (cell, id, x,
    y) rows only, and AQE's skew split applies to hot cells like any
    hash join. Candidates are then distance-filtered and ranked with a
    per-left-id window. Left points with no neighbor in range produce
    no rows (inner semantics).

    Exactness: distance² = dx·dx + dy·dy in doubles — identical IEEE
    arithmetic in any engine, so the (d2, right_id) ordering is
    deterministic and the whole operator is oracle-replayable."""
    lx, ly = left_xy
    rx, ry = right_xy
    cs = float(radius)
    li = F.floor(F.col(lx) / cs).cast("long")
    lj = F.floor(F.col(ly) / cs).cast("long")
    # 3x3 neighborhood of the left point's cell
    neigh = F.array(
        *[
            (li + dx + _OFFSET) * _STRIDE + (lj + dy + _OFFSET)
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    a = left.select(
        F.col(left_id).alias("__lid"),
        F.col(lx).alias("__lx"),
        F.col(ly).alias("__ly"),
        F.explode(neigh).alias("__cell"),
    )
    ri = F.floor(F.col(rx) / cs).cast("long")
    rj = F.floor(F.col(ry) / cs).cast("long")
    b = right.select(
        F.col(right_id).alias("__rid"),
        F.col(rx).alias("__rx"),
        F.col(ry).alias("__ry"),
        ((ri + _OFFSET) * _STRIDE + (rj + _OFFSET)).alias("__cell"),
    )
    d2 = (
        (F.col("__lx") - F.col("__rx")) * (F.col("__lx") - F.col("__rx"))
        + (F.col("__ly") - F.col("__ry")) * (F.col("__ly") - F.col("__ry"))
    )
    cand = (
        a.join(b, "__cell")
        .withColumn("__d2", d2)
        .filter(F.col("__d2") <= F.lit(cs * cs))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__lid").orderBy(F.asc("__d2"), F.asc("__rid"))
    out = (
        cand.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= int(k))
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            F.col("__d2").alias("dist_sq"),
            F.col("__rk").alias("rank"),
        )
    )
    return out


def _check_dist_col(dist_col, left: DataFrame, right: DataFrame) -> None:
    """Refuse a ``dist_col`` that already exists on either input
    (ADVICE r7): appending it via rename would produce a duplicate-name
    DataFrame that breaks downstream select/collect — the explicit-
    refusal style the repo uses elsewhere (write_geoparquet 'bbox')."""
    if dist_col and (dist_col in left.columns or dist_col in right.columns):
        raise ValueError(
            f"dist_col {dist_col!r} already exists on an input; pass a "
            f"different name (or dist_col=None to omit the distance)"
        )


def distance_join(
    left: DataFrame,
    right: DataFrame,
    distance: float,
    left_geom: str = "geom",
    right_geom: str = "geom",
    left_bbox: str | None = None,
    right_bbox: str | None = None,
    cell_size: float | None = None,
    dist_col: str | None = "dist",
) -> DataFrame:
    """All pairs within planar ``distance`` — PostGIS ``ST_DWithin`` as
    a distributed join (the reference exposes only scalar st_distance;
    its users' DWithin query is a Cartesian filter — this is the
    join-shaped version that survives scale).

    Same PBSM skeleton as :func:`spatial_join` with the ONE-SIDED bbox
    expansion of ``hausdorff_join`` (operators/trajectory.py): only the
    LEFT bbox grows by ``distance`` before cell explosion, which is
    sufficient — a qualifying pair's expanded-left bbox always overlaps
    the right bbox — and half as much fan-out as expanding both sides.
    Candidate pruning is the bbox-GAP test (gapx² + gapy² ≤ d², native
    arithmetic on the UNEXPANDED boxes); the exact ``st_distance``
    pandas UDF runs last on gap-confirmed survivors, and for
    point × point inputs the gap test IS the distance, so the exact
    pass confirms rather than discovers. Reference-point dedup keeps a
    pair only in the cell owning the lower-left corner of the
    expanded-left × right bbox intersection — no global distinct.

    ``dist_col`` (default ``"dist"``) appends the planar distance;
    pass None to omit. ``cell_size`` defaults to ``max(distance, 1.0)``
    so the expansion adds at most ~2 cells per axis."""
    d = float(distance)
    if d < 0:
        raise ValueError("distance must be >= 0")
    _check_dist_col(dist_col, left, right)
    cs = float(cell_size) if cell_size is not None else max(d, 1.0)

    a = _boxed(left, left_geom, left_bbox, "l")
    a = _exploded(a.withColumn("__l_ebox", F.expr(grown_sql("__l_bbox", d))), "l", cs)
    b = _exploded(_boxed(right, right_geom, right_bbox, "r"), "r", cs)
    cand = a.alias("__l").join(b.alias("__r"), F.expr(on_sql("__l", "__r", cs, "__l_ebox", d)))
    return _within(cand, "st_distance", left_geom, right_geom, d, dist_col)


def _within(cand: DataFrame, fn: str, left_geom: str, right_geom: str, d: float,
            dist_col: str | None) -> DataFrame:
    """The exact distance refine of a distance join's candidates, its
    distance kept as ``dist_col`` (or dropped when None)."""
    cand = cand.withColumn("__dist", _pair(fn, left_geom, right_geom)).filter(F.col("__dist") <= F.lit(d))
    drop = ["__l_bbox", "__l_ebox", "__l_cell", "__r_bbox", "__r_cell"]
    if dist_col:
        return cand.withColumnRenamed("__dist", dist_col).drop(*drop)
    return cand.drop("__dist", *drop)


def distance_join_sphere(
    left: DataFrame,
    right: DataFrame,
    meters: float,
    left_geom: str = "geom",
    right_geom: str = "geom",
    left_bbox: str | None = None,
    right_bbox: str | None = None,
    cell_size: float | None = None,
    dist_col: str | None = "dist_m",
) -> DataFrame:
    """Great-circle ``ST_DWithin`` (PostGIS geography semantics): all
    pairs within ``meters`` along the 6371008.7714 m mean sphere —
    the radius of every st_distanceSphere/geodesy kernel in this repo
    (geom/geodesy.py:29), so results compose with the rest of the ST
    surface and replay in the same SQL haversine the geodesy gates
    hash-verify.

    Same one-sided-expansion skeleton as :func:`distance_join`, with
    two spherical corrections the planar version doesn't need:

    - the longitude envelope is the EXACT inverse haversine bound,
      Δλ = 2·asin(sin(d/2R) / cos φ*) at the expanded envelope's
      worst-case |φ*| — the linearized d/(R·cosφ) UNDERESTIMATES at
      high latitude (great circles cut poleward of the parallel) and
      provably drops pairs; when sin(d/2R) ≥ cos φ* the cap sees
      every longitude and the envelope degenerates to ±180°;
    - the envelope WRAPS the antimeridian: each left row explodes
      under the longitude offsets {-360, 0, +360} whose shifted
      envelope still intersects [-180, 180], so a pair whose short
      arc crosses ±180° is found under exactly one offset (offsets
      are 360° apart and the envelope is clamped to full-range
      before it could span 360°, so no pair is found twice — pair
      dedup stays the reference-cell rule, never a global distinct).

    The exact ``st_distanceSphere`` pandas UDF runs last on
    bbox-confirmed candidates."""
    d = float(meters)
    if d < 0:
        raise ValueError("distance must be >= 0")
    _check_dist_col(dist_col, left, right)
    R = 6_371_008.7714
    dlat = d / R * 180.0 / math.pi
    sin_half = math.sin(min(d / (2.0 * R), math.pi / 2.0))
    cs = float(cell_size) if cell_size is not None else max(dlat * 2.0, 1.0)

    a = _boxed(left, left_geom, left_bbox, "l")
    y0 = F.col("__l_bbox")["ymin"] - F.lit(dlat)
    y1 = F.col("__l_bbox")["ymax"] + F.lit(dlat)
    # smallest cos|φ| over the EXPANDED band; envelope goes full-range
    # when the inverse-haversine bound is undefined there (polar caps)
    wlat = F.greatest(F.abs(y0), F.abs(y1))
    cosmin = F.cos(F.radians(F.least(wlat, F.lit(90.0))))
    full = (F.lit(sin_half) >= cosmin) | (wlat >= F.lit(89.99))
    dlon = F.when(full, F.lit(180.0)).otherwise(
        F.degrees(F.lit(2.0) * F.asin(F.lit(sin_half) / cosmin))
    )
    ex0 = F.col("__l_bbox")["xmin"] - dlon
    ex1 = F.col("__l_bbox")["xmax"] + dlon
    # a ≥360°-wide envelope sees every longitude: clamp and use only
    # offset 0 (any wider and a pair could be found under two offsets)
    full_span = full | ((ex1 - ex0) >= F.lit(360.0))
    ex0 = F.when(full_span, F.lit(-180.0)).otherwise(ex0)
    ex1 = F.when(full_span, F.lit(180.0)).otherwise(ex1)
    offs = F.when(full_span, F.array(F.lit(0.0))).otherwise(
        F.filter(
            F.array(F.lit(-360.0), F.lit(0.0), F.lit(360.0)),
            lambda o: (ex1 + o >= F.lit(-180.0)) & (ex0 + o <= F.lit(180.0)),
        )
    )
    a = a.withColumn("__off", F.explode(offs))
    ebox = F.struct(
        (ex0 + F.col("__off")).alias("xmin"),
        y0.alias("ymin"),
        (ex1 + F.col("__off")).alias("xmax"),
        y1.alias("ymax"),
    )
    a = _exploded(a.withColumn("__l_ebox", ebox).drop("__off"), "l", cs)
    b = _exploded(_boxed(right, right_geom, right_bbox, "r"), "r", cs)
    cand = a.alias("__l").join(b.alias("__r"), F.expr(on_sql("__l", "__r", cs, "__l_ebox")))
    return _within(cand, "st_distancesphere", left_geom, right_geom, d, dist_col)
