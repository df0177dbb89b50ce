"""Operator tests: bbox filter pushdown (plan-level assertion, mirroring
STIndexSpec's optimized-plan checks as 'pruning effective' — SURVEY.md §5),
Z2 partitioned writes, convex hull aggregates, geometry field detection."""

import pytest

from pyspark.sql import functions as F

from geomesa_hive_spark.functions import api as ST
from geomesa_hive_spark.geom import algorithms as alg
from geomesa_hive_spark.geom import from_wkb, from_wkt, to_wkb
from geomesa_hive_spark.operators.convex_hull_agg import (
    convex_hull_agg,
    convex_hull_grouped,
)
from geomesa_hive_spark.operators.geom_fields import is_geom_field
from geomesa_hive_spark.operators.partitioning import (
    add_z2_columns,
    write_spatially_partitioned,
)
from geomesa_hive_spark.operators.pushdown import (
    contains_pushdown,
    intersects_pushdown,
)


@pytest.fixture(scope="module")
def pts_parquet(spark, tmp_path_factory):
    """100 points on a 10x10 grid with geom WKB + bbox struct, as parquet."""
    path = str(tmp_path_factory.mktemp("pts") / "pts.parquet")
    rows = []
    for i in range(100):
        x, y = float(i % 10), float(i // 10)
        rows.append((i, x, y, bytearray(to_wkb(from_wkt(f"POINT ({x} {y})")))))
    df = spark.createDataFrame(rows, "id INT, x DOUBLE, y DOUBLE, geom BINARY")
    df = df.withColumn("bbox", ST.make_extent("x", "y", "x", "y"))
    df.write.mode("overwrite").parquet(path)
    return path


def test_intersects_pushdown_counts(spark, pts_parquet):
    df = spark.read.parquet(pts_parquet)
    # window [2,2]..[5.5,4.5] -> x in 2..5 (4 cols), y in 2..4 (3 rows)
    out = intersects_pushdown(df, (2.0, 2.0, 5.5, 4.5), geom_col="geom", bbox_col="bbox")
    assert out.count() == 12
    # exact=True keeps the UDF conjunction; same result for points
    out2 = intersects_pushdown(
        df, (2.0, 2.0, 5.5, 4.5), geom_col="geom", bbox_col="bbox", exact=True
    )
    assert out2.count() == 12


def test_pushdown_reaches_parquet_scan(spark, pts_parquet):
    df = spark.read.parquet(pts_parquet)
    out = intersects_pushdown(df, (2.0, 2.0, 5.5, 4.5), bbox_col="bbox")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    # nested struct-field comparisons must reach the scan, not stay in a
    # post-scan Filter only (nestedPredicatePushdown)
    assert "bbox.xmin" in plan and "GreaterThanOrEqual(bbox.xmin" in plan or "bbox.xmin" in plan


def test_contains_pushdown_semantics(spark):
    # extent-column-within-literal (STContainsRule semantics)
    rows = [(1, 1.0, 1.0, 2.0, 2.0), (2, 0.0, 0.0, 5.0, 5.0), (3, 3.0, 3.0, 9.0, 4.0)]
    df = spark.createDataFrame(rows, "id INT, xmin DOUBLE, ymin DOUBLE, xmax DOUBLE, ymax DOUBLE")
    df = df.withColumn("ext", ST.make_extent("xmin", "ymin", "xmax", "ymax"))
    kept = contains_pushdown(df, (0.0, 0.0, 4.0, 4.0), bbox_col="ext")
    assert sorted(r.id for r in kept.collect()) == [1]


def test_window_as_wkt_polygon_exact(spark, pts_parquet):
    df = spark.read.parquet(pts_parquet)
    # triangle covering (0,0),(4,0),(0,4) half-square: points x+y<=4 (y<=4-x)
    tri = "POLYGON ((-0.5 -0.5, 4.5 -0.5, -0.5 4.5, -0.5 -0.5))"
    out = intersects_pushdown(df, tri, geom_col="geom", bbox_col="bbox")
    got = sorted((r.x, r.y) for r in out.collect())
    expect = sorted((float(x), float(y)) for x in range(5) for y in range(5) if x + y <= 4)
    assert got == expect


@pytest.mark.parametrize("size", [1e-6, 1.0, 1e6])
def test_geometry_window_matches_wkt_at_any_scale(spark, size):
    """A Geometry window gives the WKT window's answer whatever its
    size: a small triangle is not taken for its own envelope (which
    would drop the exact predicate), and a rectangle still is."""
    o = 10.0
    pts = [(1, o + 0.2 * size, o + 0.2 * size), (2, o + 0.9 * size, o + 0.9 * size)]
    rows = [(i, x, y, bytearray(to_wkb(from_wkt(f"POINT ({x!r} {y!r})")))) for i, x, y in pts]
    df = spark.createDataFrame(rows, "id INT, x DOUBLE, y DOUBLE, geom BINARY")
    df = df.withColumn("bbox", ST.make_extent("x", "y", "x", "y"))
    a, b = o, o + size
    windows = {
        f"POLYGON (({a!r} {a!r}, {b!r} {a!r}, {a!r} {b!r}, {a!r} {a!r}))": [1],
        f"POLYGON (({a!r} {a!r}, {b!r} {a!r}, {b!r} {b!r}, {a!r} {b!r}, {a!r} {a!r}))": [1, 2],
    }
    for wkt, want in windows.items():
        for fn in (intersects_pushdown, contains_pushdown):
            by_wkt = sorted(r.id for r in fn(df, wkt, geom_col="geom", bbox_col="bbox").collect())
            by_geom = sorted(r.id for r in fn(df, from_wkt(wkt), geom_col="geom", bbox_col="bbox").collect())
            assert by_geom == by_wkt == want, (fn.__name__, wkt)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_pushdown_rejects_non_finite_window(spark, pts_parquet, bad):
    """A NaN bound would compare like +inf in Spark (every row passes),
    so both functions refuse a non-finite window, whatever the columns."""
    df = spark.read.parquet(pts_parquet)
    for window in [(0.0, 0.0, bad, 1.0), (bad, 0.0, 1.0, 1.0)]:
        for fn in (intersects_pushdown, contains_pushdown):
            for cols in [{"bbox_col": "bbox"}, {"geom_col": "geom"}, {"geom_col": "geom", "bbox_col": "bbox"}]:
                with pytest.raises(ValueError, match="finite"):
                    fn(df, window, **cols)


def test_convex_hull_agg_global(spark):
    rows = [(i, bytearray(to_wkb(from_wkt(f"POINT ({x} {y})"))))
            for i, (x, y) in enumerate([(0, 0), (10, 0), (10, 10), (0, 10), (5, 5), (2, 3)])]
    df = spark.createDataFrame(rows, "id INT, geom BINARY").repartition(3)
    out = convex_hull_agg(df, "geom").collect()
    assert len(out) == 1  # composable 1-row DataFrame, no driver-side reduce
    assert alg.area(from_wkb(bytes(out[0].hull))) == pytest.approx(100.0)


def test_convex_hull_grouped(spark):
    rows = []
    for k in (0, 1):
        for x, y in [(0, 0), (4, 0), (4, 4), (0, 4)]:
            rows.append((k, bytearray(to_wkb(from_wkt(f"POINT ({x + 10 * k} {y})")))))
    df = spark.createDataFrame(rows, "k INT, geom BINARY")
    out = {r.k: r.hull for r in convex_hull_grouped(df, "geom", "k").collect()}
    assert alg.area(from_wkb(bytes(out[0]))) == pytest.approx(16.0)
    assert alg.area(from_wkb(bytes(out[1]))) == pytest.approx(16.0)


def test_convex_hull_sql_udaf(spark):
    df = spark.createDataFrame(
        [(1, bytearray(to_wkb(from_wkt("POINT (0 0)")))),
         (1, bytearray(to_wkb(from_wkt("POINT (2 0)")))),
         (1, bytearray(to_wkb(from_wkt("POINT (0 2)"))))],
        "k INT, geom BINARY",
    )
    df.createOrReplaceTempView("hull_in")
    row = spark.sql("SELECT st_convexhull(geom) AS h FROM hull_in GROUP BY k").collect()[0]
    assert alg.area(from_wkb(bytes(row.h))) == pytest.approx(2.0)


def test_z2_columns_and_partitioned_write(spark, tmp_path):
    rows = [(i, float(i * 30 - 150), float(i * 15 - 75)) for i in range(10)]
    df = spark.createDataFrame(rows, "id INT, lon DOUBLE, lat DOUBLE")
    df = df.withColumn("geom", F.call_function("st_makepoint", "lon", "lat"))
    z = add_z2_columns(df, "geom", zoom=4)
    assert {"z2", "bbox"} <= set(z.columns)
    out_dir = str(tmp_path / "zpart")
    write_spatially_partitioned(df, out_dir, "geom", zoom=4, partition_dirs=True)
    back = spark.read.parquet(out_dir)
    assert back.count() == 10
    # hive-partitioned layout on the coarse z2 key
    assert any("z2=" in str(p) for p in __import__("pathlib").Path(out_dir).iterdir())


def test_is_geom_field(spark):
    df = spark.createDataFrame(
        [("POINT (1 2)", "hello", 3, bytearray(to_wkb(from_wkt("POINT (0 0)"))))],
        "wkt STRING, s STRING, n INT, geom BINARY",
    )
    res = is_geom_field(df)
    assert res["wkt"] is True and res["geom"] is True
    assert res["s"] is False and res["n"] is False


# ---------------------------------------------------------------------------
# distributed spatial join
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def polys_df(spark):
    """8 box polygons of varied size, some spanning multiple 1-deg cells."""
    boxes = [
        (0, 0.2, 0.2, 0.8, 0.8),      # inside one cell
        (1, 0.5, 0.5, 2.5, 1.5),      # spans 3x2 cells
        (2, 3.0, 3.0, 3.4, 3.4),
        (3, -1.5, -1.5, 0.5, 0.5),    # crosses origin
        (4, 5.1, 0.1, 5.2, 0.2),
        (5, 0.0, 3.0, 4.0, 3.2),      # long thin strip
        (6, 8.0, 8.0, 9.0, 9.0),      # no points inside
        (7, 2.9, 0.9, 3.1, 1.1),
    ]
    rows = [
        (i, bytearray(to_wkb(from_wkt(
            f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"))))
        for i, x0, y0, x1, y1 in boxes
    ]
    return spark.createDataFrame(rows, "poly_id INT, pgeom BINARY")


def _brute_pairs(spark, pts, polys, pred):
    pairs = (
        pts.crossJoin(polys)
        .filter(F.call_function(pred, F.col("geom"), F.col("pgeom")))
        .select("id", "poly_id")
    )
    return {(r.id, r.poly_id) for r in pairs.collect()}


def test_spatial_join_matches_bruteforce(spark, pts_parquet, polys_df):
    from geomesa_hive_spark.operators.spatial_join import spatial_join

    pts = spark.read.parquet(pts_parquet)
    for pred in ["intersects", "within"]:
        got_df = spatial_join(
            pts, polys_df, predicate=pred,
            left_geom="geom", right_geom="pgeom", left_bbox="bbox", cell_size=1.0,
        )
        got = {(r.id, r.poly_id) for r in got_df.select("id", "poly_id").collect()}
        want = _brute_pairs(spark, pts, polys_df, f"st_{pred}")
        assert got == want, f"{pred}: {sorted(got ^ want)[:10]}"
        assert len(want) > 0


def test_spatial_join_no_duplicate_pairs(spark, pts_parquet, polys_df):
    """A polygon spanning several cells must not emit a pair twice."""
    from geomesa_hive_spark.operators.spatial_join import spatial_join

    pts = spark.read.parquet(pts_parquet)
    out = spatial_join(
        pts, polys_df, predicate="intersects",
        left_geom="geom", right_geom="pgeom", left_bbox="bbox", cell_size=1.0,
    ).select("id", "poly_id")
    n, nd = out.count(), out.distinct().count()
    assert n == nd


def test_spatial_join_salted_identical_rows(spark, pts_parquet, polys_df):
    """Round 14 hot-cell knob: salt > 1 (left sharded, right replicated)
    must return EXACTLY the unsalted rows — same pairs, no duplicates —
    for multi-cell polygons and both predicates; salt with
    broadcast_right and salt < 1 are refused."""
    import pytest as _pytest

    from geomesa_hive_spark.operators.spatial_join import spatial_join

    pts = spark.read.parquet(pts_parquet)
    for pred in ["intersects", "within"]:
        base = spatial_join(
            pts, polys_df, predicate=pred,
            left_geom="geom", right_geom="pgeom", left_bbox="bbox",
            cell_size=1.0,
        ).select("id", "poly_id")
        salted = spatial_join(
            pts, polys_df, predicate=pred,
            left_geom="geom", right_geom="pgeom", left_bbox="bbox",
            cell_size=1.0, salt=5,
        ).select("id", "poly_id")
        b = sorted((r.id, r.poly_id) for r in base.collect())
        s = sorted((r.id, r.poly_id) for r in salted.collect())
        assert b == s and len(b) > 0, pred
        assert len(s) == len(set(s))            # still no duplicates
    with _pytest.raises(ValueError, match="broadcast_right"):
        spatial_join(pts, polys_df, left_geom="geom", right_geom="pgeom",
                     salt=4, broadcast_right=True)
    with _pytest.raises(ValueError, match="salt"):
        spatial_join(pts, polys_df, left_geom="geom", right_geom="pgeom",
                     salt=0)


def test_spatial_join_null_geoms_drop(spark, polys_df):
    from geomesa_hive_spark.operators.spatial_join import spatial_join

    pts = spark.createDataFrame(
        [(0, bytearray(to_wkb(from_wkt("POINT (0.5 0.5)")))), (1, None)],
        "id INT, geom BINARY",
    )
    out = spatial_join(pts, polys_df, left_geom="geom", right_geom="pgeom")
    ids = {r.id for r in out.select("id").collect()}
    assert ids == {0}


# ---------------------------------------------------------------------------
# join strategies: bucketing + salting
# ---------------------------------------------------------------------------


def test_bucketed_join_shuffle_free(spark):
    from geomesa_hive_spark.operators.join_strategies import write_bucketed

    a = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    b = spark.range(0, 1000).withColumn("w", F.col("id") + 7)
    try:
        write_bucketed(a, "bk_a", "id", num_buckets=8, sort_cols="id")
        write_bucketed(b, "bk_b", "id", num_buckets=8, sort_cols="id")
        # broadcast would bypass the bucketed path on this tiny fixture;
        # force the shuffle-join planner to show bucket co-location
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bk_a").join(spark.table("bk_b"), "id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert j.count() == 1000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_bucketed_join_no_exchange(spark, tmp_path):
    """write_bucketed + bucketed_equijoin: the bucketed join plans
    ZERO Exchange nodes while the identical un-bucketed merge join
    shuffles; results equal the plain join exactly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from geomesa_hive_spark.operators.join_strategies import (
        assert_no_exchange, bucketed_equijoin, write_bucketed,
    )

    left = spark.createDataFrame(
        [(i % 50, i, float(i)) for i in range(500)],
        "k long, oid long, v double",
    )
    right = spark.createDataFrame(
        [(i, f"seg{i % 5}") for i in range(50)], "k long, seg string"
    )
    write_bucketed(left, "t_bl", "k", num_buckets=8, sort_cols="k",
                   path=str(tmp_path / "bl"))
    write_bucketed(right, "t_br", "k", num_buckets=8, sort_cols="k",
                   path=str(tmp_path / "br"))
    try:
        j = bucketed_equijoin(spark, "t_bl", "t_br", "k")
        got = (
            j.groupBy("seg").agg(F.count("*").alias("cnt"),
                                 F.sum("v").alias("sv"))
            .collect()
        )
        exp = (
            left.join(right, "k")
            .groupBy("seg").agg(F.count("*").alias("cnt"),
                                F.sum("v").alias("sv"))
            .collect()
        )
        assert sorted(map(tuple, got)) == sorted(map(tuple, exp))
        # control: the same hinted join WITHOUT bucketing must shuffle
        with _pytest.raises(AssertionError, match="Exchange"):
            assert_no_exchange(left.hint("merge").join(right, "k"))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bl")
        spark.sql("DROP TABLE IF EXISTS t_br")


def test_salted_join_matches_plain(spark):
    from geomesa_hive_spark.operators.join_strategies import salted_join

    # skewed left: 90% of rows share key 1
    left = spark.createDataFrame(
        [(1, i) for i in range(90)] + [(k, 0) for k in range(2, 12)], ["k", "lv"]
    )
    right = spark.createDataFrame([(k, k * 10) for k in range(1, 12)], ["k", "rv"])
    got = {(r.k, r.lv, r.rv) for r in salted_join(left, right, "k", salt=4).collect()}
    want = {(r.k, r.lv, r.rv) for r in left.join(right, "k").collect()}
    assert got == want and len(want) == 100

    got_l = salted_join(left, right.filter(F.col("k") > 5), "k", salt=4, how="left")
    want_l = left.join(right.filter(F.col("k") > 5), "k", "left")
    assert got_l.count() == want_l.count() == 100


def test_spatial_join_capacity_guard(spark):
    """Grid indices beyond the encoding capacity must raise, not alias
    distinct cells (projected-meter coords with sub-meter cells)."""
    from geomesa_hive_spark.operators.spatial_join import spatial_join
    from geomesa_hive_spark.functions.registry import register_all

    register_all(spark)
    def far(name):
        d = spark.createDataFrame([(1, 2.0e9, 0.0)], f"{name} LONG, x DOUBLE, y DOUBLE")
        return d.withColumn(
            "geom", F.call_function("st_makepoint", F.col("x"), F.col("y"))
        ).select(name, "geom")

    with pytest.raises(Exception, match="encoding capacity"):
        spatial_join(far("lid"), far("rid"), left_geom="geom", right_geom="geom",
                     cell_size=1.0).collect()
    # the SQL join rewrite builds its cells from the same core: same guard
    from geomesa_hive_spark.operators.spatial_sql import spatial_sql

    far("lid").createOrReplaceTempView("cap_far")
    with pytest.raises(Exception, match="spatial join: grid index exceeds encoding capacity"):
        spatial_sql(spark, "SELECT a.lid FROM cap_far a JOIN cap_far b "
                           "ON ST_Intersects(a.geom, b.geom)").collect()


def test_spatial_join_drops_stored_bbox_without_extent(spark):
    """A stored bbox with a NULL or NaN in any bound has no extent: its row
    joins nothing, on either side of spatial_join and distance_join, even
    where the geometry itself would match. A NaN bound must not reach the
    cell range or the overlap test: floor(NaN) casts to 0, and Spark
    orders NaN above every double, so both would pass the row."""
    from geomesa_hive_spark.functions.registry import register_all
    from geomesa_hive_spark.operators.spatial_join import (
        distance_join, spatial_join,
    )

    register_all(spark)
    wkb = bytearray(to_wkb(from_wkt("POINT (0.5 0.5)")))
    box = (0.5, 0.5, 0.5, 0.5)
    rows = [(0, wkb, box)]
    for i in range(4):
        for bad in (None, float("nan")):
            rows.append((len(rows), wkb, tuple(bad if j == i else v for j, v in enumerate(box))))
    schema = "id INT, geom BINARY, bbox STRUCT<xmin: DOUBLE, ymin: DOUBLE, xmax: DOUBLE, ymax: DOUBLE>"
    pts = spark.createDataFrame(rows, schema)
    one = spark.createDataFrame(rows[:1], schema).select(
        F.col("id").alias("oid"), F.col("geom").alias("ogeom"), F.col("bbox").alias("obox"))
    runs = {
        "spatial_join": lambda a, b, **kw: spatial_join(a, b, cell_size=0.001, **kw),
        "distance_join": lambda a, b, **kw: distance_join(a, b, 0.1, **kw),
    }
    for name, run in runs.items():
        got = run(pts, one, left_geom="geom", right_geom="ogeom", left_bbox="bbox", right_bbox="obox")
        assert sorted(r.id for r in got.collect()) == [0], name
        got = run(one, pts, left_geom="ogeom", right_geom="geom", left_bbox="obox", right_bbox="bbox")
        assert sorted(r.id for r in got.collect()) == [0], name


def test_join_evaluates_each_side_bbox_once(spark):
    """Each side's ``st_extentFromGeom`` runs once per input row in the
    PBSM join, on the DataFrame and SQL surfaces and in the distance
    join: the boxes come out of the cell generator, so the isnotnull
    filters Spark infers from the ON conjunction stay above it instead
    of evaluating the UDF again under the projection."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from geomesa_hive_spark.functions.registry import register_all
    from geomesa_hive_spark.functions.st import EXTENT_TYPE, SPEC
    from geomesa_hive_spark.operators.spatial_join import distance_join, spatial_join
    from geomesa_hive_spark.operators.spatial_sql import spatial_sql

    register_all(spark)
    calls = spark.sparkContext.accumulator(0)
    inner = SPEC["st_extentfromgeom"].func

    def extent(s: pd.Series) -> pd.DataFrame:
        calls.add(len(s))
        return inner(s)

    pts = spark.createDataFrame(
        [(i, bytearray(to_wkb(from_wkt(f"POINT ({i % 10 / 2} {i // 10})")))) for i in range(60)], "id INT, geom BINARY")
    zones = spark.createDataFrame(
        [(1, bytearray(to_wkb(from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 0))")))),
         (2, bytearray(to_wkb(from_wkt("POLYGON ((3 3, 9 3, 9 9, 3 9, 3 3))"))))], "zid INT, zgeom BINARY")
    pts.createOrReplaceTempView("once_pts")
    zones.createOrReplaceTempView("once_zones")
    runs = {
        "api": lambda: spatial_join(pts, zones, left_geom="geom", right_geom="zgeom", exact=False),
        "sql": lambda: spatial_sql(spark, "SELECT p.id FROM once_pts p JOIN once_zones z "
                                          "ON ST_Intersects(p.geom, z.zgeom)"),
        "distance": lambda: distance_join(pts, zones, 0.5, left_geom="geom", right_geom="zgeom", dist_col=None),
    }
    try:
        spark.udf.register("st_extentfromgeom", pandas_udf(extent, EXTENT_TYPE))
        for name, run in runs.items():
            calls.value = 0
            assert run().count() > 0
            assert calls.value == 62, name
    finally:
        spark.udf.register("st_extentfromgeom", SPEC["st_extentfromgeom"])


def test_asof_join(spark):
    from geomesa_hive_spark.operators.temporal import asof_join
    import datetime as dt

    T = dt.datetime
    trades = spark.createDataFrame(
        [("A", T(2026, 1, 1, 10, 0, 5), 100.0), ("A", T(2026, 1, 1, 10, 1, 0), 101.0),
         ("B", T(2026, 1, 1, 10, 0, 30), 50.0), ("B", T(2026, 1, 1, 9, 0, 0), 49.0)],
        "sym STRING, ts TIMESTAMP, px DOUBLE")
    quotes = spark.createDataFrame(
        [("A", T(2026, 1, 1, 10, 0, 0), 99.5), ("A", T(2026, 1, 1, 10, 0, 50), 100.5),
         ("B", T(2026, 1, 1, 10, 0, 30), 50.1)],
        "sym STRING, ts TIMESTAMP, bid DOUBLE")
    out = {(r.sym, r.ts, r.bid_r) for r in asof_join(trades, quotes, on="ts", by="sym").collect()}
    assert (("A", T(2026, 1, 1, 10, 0, 5), 99.5) in out)      # strictly-before match
    assert (("B", T(2026, 1, 1, 10, 0, 30), 50.1) in out)     # simultaneous tick visible
    assert (("B", T(2026, 1, 1, 9, 0, 0), None) in out)       # nothing at-or-before → null
    # tolerance discards stale matches
    tol = {(r.sym, r.ts, r.bid_r) for r in
           asof_join(trades, quotes, on="ts", by="sym", tolerance="6 SECONDS").collect()}
    assert (("A", T(2026, 1, 1, 10, 0, 5), 99.5) in tol)      # 5s old: kept
    assert (("A", T(2026, 1, 1, 10, 1, 0), None) in tol)      # 10s old: dropped


def test_asof_join_row_coherence_with_null_payloads(spark):
    """The matched right row's genuine NULL fields must come through as
    NULL (not back-filled from an older row), and multi-column payloads
    must all come from the same matched row (pandas merge_asof /
    DuckDB ASOF semantics)."""
    from geomesa_hive_spark.operators.temporal import asof_join
    import datetime as dt

    T = dt.datetime
    left = spark.createDataFrame(
        [("A", T(2026, 1, 1, 10, 0, 30))],
        "sym STRING, ts TIMESTAMP")
    # older row has both fields set; the MATCHED (latest) row has bid=NULL
    right = spark.createDataFrame(
        [("A", T(2026, 1, 1, 10, 0, 0), 99.5, 1),
         ("A", T(2026, 1, 1, 10, 0, 20), None, 2)],
        "sym STRING, ts TIMESTAMP, bid DOUBLE, seq INT")
    row = asof_join(left, right, on="ts", by="sym").collect()[0]
    assert row.seq_r == 2          # matched the latest row...
    assert row.bid_r is None       # ...and kept ITS null, not stale 99.5

    # tolerance must be judged against the matched row's own timestamp:
    # latest row is 10s old (inside 15s), so the match is kept even
    # though its bid is NULL
    tol = asof_join(left, right, on="ts", by="sym",
                    tolerance="15 SECONDS").collect()[0]
    assert tol.seq_r == 2 and tol.bid_r is None


def test_range_join_matches_inequality_join(spark):
    from geomesa_hive_spark.operators.temporal import range_join

    vals = spark.createDataFrame([(i, float(i)) for i in range(50)], "id INT, v DOUBLE")
    ivs = spark.createDataFrame(
        [(0, 3.0, 7.0), (1, 6.5, 6.5), (2, 40.0, 49.0), (3, 100.0, 200.0), (4, -5.0, 0.0)],
        "iv INT, lo DOUBLE, hi DOUBLE")
    got = {(r.id, r.iv) for r in
           range_join(vals, ivs, "v", "lo", "hi", bin_size=5.0).select("id", "iv").collect()}
    want = {(r.id, r.iv) for r in
            vals.crossJoin(ivs).filter((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
            .select("id", "iv").collect()}
    assert got == want and len(want) > 10
    # no duplicate pairs even for intervals spanning many bins
    out = range_join(vals, ivs, "v", "lo", "hi", bin_size=2.0).select("id", "iv")
    assert out.count() == out.distinct().count()
    # half-open semantics
    ho = {(r.id, r.iv) for r in
          range_join(vals, ivs, "v", "lo", "hi", bin_size=5.0, inclusive="left")
          .select("id", "iv").collect()}
    assert (7, 0) in got and (7, 0) not in ho


def test_spatial_knn_join_matches_brute_force(spark):
    """Gridded 3x3-neighborhood kNN must equal brute force within the
    radius, including boundary-straddling neighbors and ties."""
    import itertools
    import random

    from geomesa_hive_spark.operators.spatial_join import spatial_knn_join

    rng = random.Random(11)
    left = [(i, rng.uniform(-10, 10), rng.uniform(-10, 10)) for i in range(40)]
    right = [(100 + i, rng.uniform(-10, 10), rng.uniform(-10, 10)) for i in range(60)]
    ldf = spark.createDataFrame(left, "lid LONG, x DOUBLE, y DOUBLE")
    rdf = spark.createDataFrame(right, "rid LONG, x DOUBLE, y DOUBLE")
    out = spatial_knn_join(ldf, rdf, "lid", "rid", ("x", "y"), ("x", "y"),
                           k=4, radius=3.0).collect()
    got = {(r.lid, r.rid, r.rank) for r in out}

    expect = set()
    for lid, lx, ly in left:
        cands = []
        for rid, rx, ry in right:
            d2 = (lx - rx) ** 2 + (ly - ry) ** 2
            if d2 <= 9.0:
                cands.append((d2, rid))
        for rk, (d2, rid) in enumerate(sorted(cands)[:4], 1):
            expect.add((lid, rid, rk))
    assert got == expect and len(expect) > 0
    # a left point exactly on a cell corner still sees all neighbors
    ldf2 = spark.createDataFrame([(1, 0.0, 0.0)], "lid LONG, x DOUBLE, y DOUBLE")
    rdf2 = spark.createDataFrame(
        [(2, -2.9, -2.9), (3, 2.9, 2.9), (4, 2.9, -2.9)],
        "rid LONG, x DOUBLE, y DOUBLE")
    got2 = {r.rid for r in spatial_knn_join(
        ldf2, rdf2, "lid", "rid", ("x", "y"), ("x", "y"), k=5, radius=5.0).collect()}
    assert got2 == {2, 3, 4}


def test_build_tracks_hand_computed(spark):
    import datetime as dt

    from geomesa_hive_spark.operators.trajectory import build_tracks
    from geomesa_hive_spark.geom.geodesy import haversine_m

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: 3 points east along the equator, 60s apart
        (1, t0, 10, 0.0, 0.0),
        (1, t0 + dt.timedelta(seconds=60), 11, 1.0, 0.0),
        (1, t0 + dt.timedelta(seconds=120), 12, 2.0, 0.0),
        # user 2: single point -> zero track, zero duration
        (2, t0, 20, 5.0, 5.0),
        # user 3: same-ts pair ordered by the tiebreak column
        (3, t0, 31, 0.0, 0.0),
        (3, t0, 30, 0.0, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id INT, ts TIMESTAMP, event_id INT, lon DOUBLE, lat DOUBLE"
    )
    out = {r.entity: r for r in
           build_tracks(df, "user_id", "ts", "event_id", "lon", "lat").collect()}

    seg = round(float(haversine_m(0.0, 0.0, 1.0, 0.0)))
    assert out[1].n_pts == 3 and out[1].track_m == 2 * seg
    assert out[1].dur_s == 120
    assert out[1].avg_mps == round(2 * seg / 120, 3)
    assert (out[1].xmin, out[1].xmax) == (0.0, 2.0)

    assert out[2].n_pts == 1 and out[2].track_m == 0 and out[2].dur_s == 0
    assert out[2].avg_mps == 0.0

    # tiebreak: event 30 (lat 1) precedes 31? No — sorted by (ts, k):
    # k=30 first at (0,1), then k=31 at (0,0): one meridian degree
    assert out[3].track_m == round(float(haversine_m(0.0, 1.0, 0.0, 0.0)))


def test_density_grid_mass_and_kernel(spark):
    from geomesa_hive_spark.operators.density import density_grid

    pts = spark.createDataFrame(
        [(0.5, 0.5), (0.7, 0.2), (10.5, 10.5)], "x DOUBLE, y DOUBLE"
    )
    out = {(r.cell_x, r.cell_y): r.weight
           for r in density_grid(pts, "x", "y", cell=1.0, min_weight=1).collect()}
    # total mass = 16 per point
    assert sum(out.values()) == 16 * 3
    # two co-located points: their shared cell carries 2x the center weight
    assert out[(0, 0)] == 8
    # isolated point: center 4, edges 2, corners 1
    assert out[(10, 10)] == 4 and out[(9, 10)] == 2 and out[(9, 9)] == 1
    # negative coordinates floor correctly (not truncate-toward-zero)
    out2 = {(r.cell_x, r.cell_y): r.weight
            for r in density_grid(
                spark.createDataFrame([(-0.5, -0.5)], "x DOUBLE, y DOUBLE"),
                "x", "y", cell=1.0, min_weight=1).collect()}
    assert out2[(-1, -1)] == 4


def test_scd2_intervals(spark):
    """CDC compaction (null-safe), interval chaining, current-version
    null valid_to, 1-based versions, deterministic tiebreak."""
    from pyspark.sql import functions as F

    from geomesa_hive_spark.operators.temporal import scd2_intervals

    rows = [
        # (key, ts, id, attr)
        (1, 10, 1, "a"),
        (1, 20, 2, "a"),      # unchanged -> compacted away
        (1, 30, 3, "b"),
        (1, 40, 4, None),     # change to NULL is a change
        (1, 50, 5, None),     # unchanged NULL -> compacted
        (1, 60, 6, "b"),
        (2, 15, 7, "x"),
    ]
    df = spark.createDataFrame(rows, "k LONG, ts LONG, eid LONG, attr STRING")
    out = scd2_intervals(df, "k", "ts", ["attr"], "eid")
    key = lambda t: (t[0], t[4])  # (key, version) is a total order
    got = sorted(
        ((r.k, r.attr, r.valid_from, r.valid_to, r.version)
         for r in out.collect()), key=key
    )
    assert got == [
        (1, "a", 10, 30, 1),
        (1, "b", 30, 40, 2),
        (1, None, 40, 60, 3),
        (1, "b", 60, None, 4),
        (2, "x", 15, None, 1),
    ]
    # partition invariance
    out2 = scd2_intervals(df.repartition(5), "k", "ts", ["attr"], "eid")
    assert sorted(((r.k, r.attr, r.valid_from, r.valid_to, r.version)
                   for r in out2.collect()), key=key) == got


def test_areal_interpolate_known_rectangles(spark):
    """Hand-computed area weights: a 2x1 zone split 50/50 across two
    unit cells, a zone fully inside one cell, and a quarter-overlap
    zone; totals are exact integer micro-units."""
    from pyspark.sql import functions as F

    from geomesa_hive_spark.functions.registry import register_all
    from geomesa_hive_spark.operators.areal import areal_interpolate

    register_all(spark)
    rows = [
        (100.0, 0.0, 0.0, 2.0, 1.0),   # cells (0,0),(1,0): 50 each
        (40.0, 0.2, 0.2, 0.7, 0.7),    # fully in (0,0): 40
        (80.0, 0.5, 0.5, 1.5, 1.5),    # quarter in each of 4 cells: 20
    ]
    df = spark.createDataFrame(rows, "v DOUBLE, x0 DOUBLE, y0 DOUBLE, x1 DOUBLE, y1 DOUBLE")
    zones = df.select(
        "v",
        F.call_function("st_makebbox", "x0", "y0", "x1", "y1").alias("zone"),
    )
    out = {(r.cell_x, r.cell_y): r.val_q
           for r in areal_interpolate(zones, "zone", "v", 1.0).collect()}
    # boundary-touching cells appear with 0 contribution
    expected = {
        (0, 0): 50_000_000 + 40_000_000 + 20_000_000,
        (1, 0): 50_000_000 + 20_000_000,
        (0, 1): 20_000_000,
        (1, 1): 20_000_000,
        (2, 0): 0,   # x1=2.0 edge of zone 1
    }
    for k, v in expected.items():
        assert out.get(k, 0) == v, (k, out.get(k))
    # mass conservation: totals sum to sum(v) within quantization
    assert abs(sum(out.values()) - 220_000_000) <= len(out)


def test_areal_interpolate_general_polygon_fallback(spark):
    """A non-rectangular zone (right triangle) goes through the REAL
    clipping kernel: a triangle over four unit cells splits its value
    by the clipped areas (kernel epsilon ~1e-7 — assert to 1e-4)."""
    from pyspark.sql import functions as F

    from geomesa_hive_spark.functions.registry import register_all
    from geomesa_hive_spark.operators.areal import areal_interpolate

    register_all(spark)
    # triangle (0,0)-(2,0)-(0,2): area 2; cell (0,0) gets 1.5/2,
    # cells (1,0) and (0,1) get 0.25/2 each, (1,1) gets 0
    # triangle area 2: cell (0,0) lies fully under the hypotenuse
    # x+y=2 (area 1 → weight 1/2); (1,0) and (0,1) hold half-unit
    # corner triangles (1/4 each); (1,1) only touches at the point
    tri = "POLYGON ((0 0, 2 0, 0 2, 0 0))"
    df = spark.createDataFrame([(120.0, tri)], "v DOUBLE, wkt STRING")
    zones = df.select(
        "v", F.call_function("st_geomfromwkt", "wkt").alias("zone"))
    out = {(r.cell_x, r.cell_y): r.val_q
           for r in areal_interpolate(zones, "zone", "v", 1.0).collect()}
    assert abs(out[(0, 0)] - 60_000_000) < 10_000
    assert abs(out[(1, 0)] - 30_000_000) < 10_000
    assert abs(out[(0, 1)] - 30_000_000) < 10_000
    assert abs(out.get((1, 1), 0)) < 10_000
    assert abs(sum(out.values()) - 120_000_000) < 20_000


def test_resample_fill_and_cohort(spark):
    """Gap buckets exist with zero aggregates and carried-forward fill;
    cohort matrix equals hand counts."""
    import datetime as dt

    from pyspark.sql import functions as F

    from geomesa_hive_spark.operators.timeseries import (
        cohort_retention, resample_fill,
    )

    base = dt.datetime(2024, 1, 1, 0, 30)
    H = dt.timedelta(hours=1)
    rows = [
        (1, base, 10.0),            # bucket 0
        (1, base + 3 * H, 2.5),     # bucket 3 (gap 1, 2)
        (1, base + 3 * H, 1.0),     # same bucket
        (2, base + 1 * H, 7.0),
    ]
    df = spark.createDataFrame(rows, "user_id LONG, ts TIMESTAMP, value DOUBLE")
    out = {(r.user_id, r.bucket): (r.n_events, r.val_cents, r.fill_cents)
           for r in resample_fill(df, "user_id", "ts", "value", 3600).collect()}
    b0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp() // 3600)
    assert out[(1, b0)] == (1, 1000, 1000)
    assert out[(1, b0 + 1)] == (0, 0, 1000)   # gap: carried forward
    assert out[(1, b0 + 2)] == (0, 0, 1000)
    assert out[(1, b0 + 3)] == (2, 350, 350)
    assert out[(2, b0 + 1)] == (1, 700, 700)
    assert len(out) == 5  # spans only, no global padding

    # cohorts: user 1 first day 0 active days {0}, user 2 day 0 {0};
    # add user 3 first active day 1, again day 2
    rows2 = rows + [
        (3, base + dt.timedelta(days=1), 1.0),
        (3, base + dt.timedelta(days=2), 1.0),
    ]
    df2 = spark.createDataFrame(rows2, "user_id LONG, ts TIMESTAMP, value DOUBLE")
    mat = {(r.cohort, r.offset): r.n_keys
           for r in cohort_retention(df2, "user_id", "ts", 86400).collect()}
    d0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp() // 86400)
    assert mat == {(d0, 0): 2, (d0 + 1, 0): 1, (d0 + 1, 1): 1}


def test_hexbin_nearest_center_property(spark):
    """The defining property of hex binning: every point is assigned
    the hexagon whose CENTER is nearest (cube rounding == nearest
    center); verified against a brute force over the 9-neighborhood of
    candidate centers for 400 random points, plus count conservation."""
    import math

    import numpy as np

    from geomesa_hive_spark.operators.hexbin import hexbin_counts, hex_cell
    from pyspark.sql import functions as F

    rng = np.random.default_rng(12)
    size = 1.7
    pts = np.column_stack([rng.uniform(-50, 50, 400), rng.uniform(-50, 50, 400)])
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in pts], "x DOUBLE, y DOUBLE")
    q, r = hex_cell("x", "y", size)
    got = [(row.q, row.r, row.x, row.y) for row in
           df.select("x", "y", q.alias("q"), r.alias("r")).collect()]

    def center(qq, rr):
        # pointy-top axial -> planar: x = s*sqrt(3)*(q + r/2), y = s*3/2*r
        return (size * math.sqrt(3) * (qq + rr / 2.0), size * 1.5 * rr)

    for qq, rr, x, y in got:
        cx, cy = center(qq, rr)
        d0 = (x - cx) ** 2 + (y - cy) ** 2
        for dq in (-2, -1, 0, 1, 2):
            for dr in (-2, -1, 0, 1, 2):
                ox, oy = center(qq + dq, rr + dr)
                d = (x - ox) ** 2 + (y - oy) ** 2
                assert d0 <= d + 1e-9, ((qq, rr), (x, y), (dq, dr))

    counts = hexbin_counts(df, "x", "y", size)
    assert counts.agg(F.sum("n")).collect()[0][0] == 400


def test_spatial_join_broadcast_right(spark, pts_parquet, polys_df):
    """broadcast_right=True keeps results identical and the physical
    plan shows a BroadcastHashJoin with NO shuffle of the left side
    before the join (the 100 TB points x small zones shape)."""
    from geomesa_hive_spark.operators.spatial_join import spatial_join

    pts = spark.read.parquet(pts_parquet)
    base = spatial_join(
        pts, polys_df, predicate="intersects",
        left_geom="geom", right_geom="pgeom", left_bbox="bbox", cell_size=1.0,
    )
    bc = spatial_join(
        pts, polys_df, predicate="intersects",
        left_geom="geom", right_geom="pgeom", left_bbox="bbox", cell_size=1.0,
        broadcast_right=True,
    )
    assert {(r.id, r.poly_id) for r in bc.collect()} == \
           {(r.id, r.poly_id) for r in base.collect()}
    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # zero shuffle anywhere: the big side streams straight from the
    # scan into the broadcast join (the whole point of the knob)
    assert "Exchange hashpartitioning" not in plan


def test_hausdorff_join_matches_brute_force(spark):
    """Trajectory-similarity self-join (operators/trajectory.py
    hausdorff_join): against brute force on jittered track clusters —
    exact pair set, exact distances (all d² terms are order-independent
    double math), and the reference-cell dedup emits each pair once.
    Also: a track pair straddling many shared cells (long parallel
    tracks) still appears exactly once, and an isolated far track
    appears in no pair."""
    import itertools
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from geomesa_hive_spark.operators.trajectory import hausdorff_join

    rng = np.random.RandomState(7)
    rows = []
    for c in range(4):
        base = np.column_stack(
            [np.arange(15) * 1.5 + c * 25.0,
             np.sin(np.arange(15)) * 3.0 + c * 10.0]
        )
        for v in range(3):
            k = c * 3 + v
            tr = base + rng.uniform(-1.2, 1.2, base.shape)
            for j, (x, y) in enumerate(tr):
                rows.append((k, j, float(x), float(y)))
    # two long parallel tracks spanning many cells, plus a far outlier
    for j in range(40):
        rows.append((100, j, j * 2.0, 500.0))
        rows.append((101, j, j * 2.0, 501.0))
        rows.append((102, j, j * 2.0, 900.0))
    df = spark.createDataFrame(rows, "k long, o long, x double, y double")
    out = hausdorff_join(df, "k", "o", "x", "y", max_dist=4.0).collect()
    got = {(r.key_a, r.key_b): r.hausdorff for r in out}
    assert len(out) == len(got)  # dedup: one row per pair

    tracks = {}
    for k, o, x, y in rows:
        tracks.setdefault(k, []).append((x, y))
    exp = {}
    for a, b in itertools.combinations(sorted(tracks), 2):
        A = np.array(tracks[a])
        B = np.array(tracks[b])
        d2 = ((A[:, None, :] - B[None, :, :]) ** 2).sum(-1)
        h = math.sqrt(max(d2.min(1).max(), d2.min(0).max()))
        if h <= 4.0:
            exp[(a, b)] = h
    assert set(got) == set(exp)
    assert (100, 101) in got and not any(102 in p for p in got)
    for kk in got:
        assert abs(got[kk] - exp[kk]) < 1e-12
    # the plan never cross-joins: candidates come from the cell equi-join
    plan = hausdorff_join(df, "k", "o", "x", "y", 4.0)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_table_diff_classification_and_null_safety(spark):
    """Keyed snapshot diff (operators/diff.py table_diff):
    added/removed/changed classification with named changed columns;
    NULL↔NULL compares as unchanged (null-safe <=>), NULL↔value as a
    change; include_unchanged surfaces identical rows; missing compare
    columns raise; added/removed rows carry empty changed_cols."""
    import pytest as _pytest

    from geomesa_hive_spark.operators.diff import table_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "B", 2.0), (3, "c", None), (5, "e", 5.0)],
        "k long, s string, v double",
    )
    out = {r.k: (r.change, list(r.changed_cols))
           for r in table_diff(old, new, "k").collect()}
    assert out == {
        2: ("changed", ["s"]),
        4: ("removed", []),
        5: ("added", []),
    }
    full = {r.k: r.change
            for r in table_diff(old, new, "k",
                                include_unchanged=True).collect()}
    assert full[1] == "unchanged" and full[3] == "unchanged"
    # NULL -> value is a change on that column
    new2 = spark.createDataFrame([(3, "c", 9.0)], "k long, s string, v double")
    o3 = {r.k: (r.change, list(r.changed_cols))
          for r in table_diff(old.filter("k=3"), new2, "k").collect()}
    assert o3 == {3: ("changed", ["v"])}
    # multi-column change reported sorted
    new3 = spark.createDataFrame([(2, "Z", 9.9)], "k long, s string, v double")
    o4 = table_diff(old.filter("k=2"), new3, "k").collect()[0]
    assert list(o4.changed_cols) == ["s", "v"]
    with _pytest.raises(ValueError):
        table_diff(old, new, "k", compare_cols=["nope"])


def test_table_diff_null_keys(spark):
    """ADVICE r6: a row whose key is NULL on both sides joins via <=>
    and classifies normally — never the phantom 'added'+'removed' pair
    that null-unsafe equality produced."""
    from geomesa_hive_spark.operators.diff import table_diff

    old = spark.createDataFrame(
        [(None, "x", 1.0), (1, "a", 1.0)], "k long, s string, v double"
    )
    same = spark.createDataFrame(
        [(None, "x", 1.0), (1, "a", 1.0)], "k long, s string, v double"
    )
    assert table_diff(old, same, "k").count() == 0
    out = {(r.k, r.change)
           for r in table_diff(old, same, "k",
                               include_unchanged=True).collect()}
    assert out == {(None, "unchanged"), (1, "unchanged")}
    # NULL-key row changes a value column -> one 'changed' row, key NULL
    upd = spark.createDataFrame(
        [(None, "x", 9.0), (1, "a", 1.0)], "k long, s string, v double"
    )
    got = table_diff(old, upd, "k").collect()
    assert len(got) == 1 and got[0].k is None and got[0].change == "changed"
    assert list(got[0].changed_cols) == ["v"]


def test_distance_join_matches_bruteforce(spark):
    """distance_join ≡ crossJoin+distance filter, including pairs that
    straddle many grid cells (cell_size < d), boundary-coincident
    points at d=0, NULL geometries dropped, negative distance raises."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from geomesa_hive_spark.functions.registry import register_all
    from geomesa_hive_spark.operators.spatial_join import distance_join

    register_all(spark)
    a = spark.range(0, 300).select(
        F.col("id").alias("ida"),
        (((F.col("id") * 73) % 400) / 10.0).alias("x"),
        (((F.col("id") * 31) % 300) / 10.0).alias("y"),
    ).withColumn("geom", F.call_function("st_makepoint", "x", "y"))
    b = spark.range(0, 200).select(
        F.col("id").alias("idb"),
        (((F.col("id") * 97) % 400) / 10.0 + 0.003).alias("x2"),
        (((F.col("id") * 59) % 300) / 10.0 + 0.003).alias("y2"),
    ).withColumn("geom2", F.call_function("st_makepoint", "x2", "y2"))

    for d, cs in ((1.5, None), (1.5, 0.4), (4.0, 2.0)):
        got = distance_join(a, b, d, left_geom="geom", right_geom="geom2",
                            cell_size=cs)
        g = sorted((r.ida, r.idb) for r in got.collect())
        exp = (a.crossJoin(b)
               .withColumn("d", F.sqrt((F.col("x") - F.col("x2")) ** 2
                                       + (F.col("y") - F.col("y2")) ** 2))
               .filter(F.col("d") <= d))
        e = sorted((r.ida, r.idb) for r in exp.collect())
        assert g == e, (d, cs, len(g), len(e))
        # no duplicate pairs out of the multi-cell expansion
        assert len(g) == len(set(g))

    nullg = a.withColumn("geom", F.when(F.col("ida") % 2 == 0, F.col("geom")))
    half = distance_join(nullg, b, 1.5, left_geom="geom", right_geom="geom2")
    assert all(r.ida % 2 == 0 for r in half.collect())

    with _pytest.raises(ValueError, match="distance"):
        distance_join(a, b, -1.0, left_geom="geom", right_geom="geom2")

    # ADVICE r7: a dist_col already present on either input is refused
    # (a rename-append would create a duplicate-name DataFrame)
    from geomesa_hive_spark.operators.spatial_join import distance_join_sphere
    with _pytest.raises(ValueError, match="dist_col"):
        distance_join(a.withColumn("dist", F.lit(0.0)), b, 1.0,
                      left_geom="geom", right_geom="geom2")
    with _pytest.raises(ValueError, match="dist_col"):
        distance_join_sphere(a, b.withColumn("dist_m", F.lit(0.0)), 1.0,
                             left_geom="geom", right_geom="geom2")
    # dist_col=None on a 'dist'-bearing input is fine
    ok = distance_join(a.withColumn("dist", F.lit(0.0)), b, 1.5,
                       left_geom="geom", right_geom="geom2", dist_col=None)
    assert ok.columns.count("dist") == 1


def test_distance_join_sphere_matches_bruteforce(spark):
    """Geodesic DWithin ≡ crossJoin + st_distanceSphere filter across
    radii that exercise high latitudes, the antimeridian wrap, and the
    polar full-range degeneration; no duplicate pairs from the offset
    explode; d=0 keeps coincident points only."""
    from pyspark.sql import functions as F

    from geomesa_hive_spark.functions.registry import register_all
    from geomesa_hive_spark.operators.spatial_join import distance_join_sphere

    register_all(spark)
    a = spark.range(0, 250).select(
        F.col("id").alias("ida"),
        (((F.col("id") * 7919) % 36000) / 100.0 - 180.0).alias("x"),
        (((F.col("id") * 4799) % 17900) / 100.0 - 89.5).alias("y"),
    ).withColumn("geom", F.call_function("st_makepoint", "x", "y"))
    b = spark.range(0, 200).select(
        F.col("id").alias("idb"),
        (((F.col("id") * 6101) % 35900) / 100.0 - 179.5).alias("x2"),
        (((F.col("id") * 5471) % 17800) / 100.0 - 89.0).alias("y2"),
    ).withColumn("geom2", F.call_function("st_makepoint", "x2", "y2"))

    brute = (a.crossJoin(b)
             .withColumn("dm", F.call_function("st_distancesphere",
                                               "geom", "geom2")))
    for D in (150_000.0, 1_500_000.0, 6_000_000.0):
        got = distance_join_sphere(a, b, D, left_geom="geom",
                                   right_geom="geom2")
        g = sorted((r.ida, r.idb) for r in got.collect())
        e = sorted((r.ida, r.idb)
                   for r in brute.filter(F.col("dm") <= D).collect())
        assert g == e, (D, len(g), len(e))
        assert len(g) == len(set(g))   # offset explode never dups

    z = distance_join_sphere(
        a.limit(40),
        a.limit(40).select(F.col("ida").alias("ja"),
                           F.col("geom").alias("geom2")),
        0.0, left_geom="geom", right_geom="geom2")
    assert z.count() == 40


def test_holt_smooth_fold_and_invariance(spark):
    """holt_smooth: the fold matches a hand-computed reference on a
    small series, a single-point key gets (level=x, trend=0,
    forecast=x), and results are identical across repartitionings
    (total order via order_cols)."""
    from pyspark.sql import functions as F

    from geomesa_hive_spark.operators.timeseries import holt_smooth

    rows = [(1, i, float(v)) for i, v in enumerate([10, 12, 14, 13, 17])]
    rows += [(2, 0, 42.0)]
    df = spark.createDataFrame(rows, "k long, ts long, value double")
    out = {r.k: r for r in holt_smooth(
        df, "k", "value", alpha=0.25, beta=0.125, horizon=4,
        order_cols=("ts",)).collect()}

    # hand fold, same arithmetic
    s, b = 10.0, 0.0
    for x in [12.0, 14.0, 13.0, 17.0]:
        sp = s
        s = 0.25 * x + 0.75 * (s + b)
        b = 0.125 * (s - sp) + 0.875 * b
    assert out[1].n == 5
    assert out[1].level == s and out[1].trend == b
    assert out[1].forecast == s + 4 * b
    assert (out[2].level, out[2].trend, out[2].forecast) == (42.0, 0.0, 42.0)

    big = spark.range(2000).select(
        (F.col("id") % 7).alias("k"),
        F.col("id").alias("ts"),
        (F.col("id") % 13).cast("double").alias("value"),
    )
    a = sorted((r.k, r.level, r.trend, r.forecast) for r in
               holt_smooth(big, "k", "value", order_cols=("ts",))
               .collect())
    c = sorted((r.k, r.level, r.trend, r.forecast) for r in
               holt_smooth(big.repartition(13), "k", "value",
                           order_cols=("ts",)).collect())
    assert a == c
