"""The native point path: a points lake written by the Z2 writers records
``geometry_types`` and its covering, and ``spatial_sql`` and
``intersects_pushdown``/``contains_pushdown`` then evaluate point
predicates against polygon literals in Spark SQL, with the UDF's answer
(NULL included) and no Python stage. Every other case keeps the UDF."""

from __future__ import annotations

import math
import os
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomesa_hive_spark.functions import api as ST
from geomesa_hive_spark.geom import from_wkt, to_wkb
from geomesa_hive_spark.geom.algorithms import _EPS, _scale
from geomesa_hive_spark.geom.core import Point
from geomesa_hive_spark.operators.partitioning import write_spatially_partitioned
from geomesa_hive_spark.operators.pushdown import contains_pushdown, intersects_pushdown
from geomesa_hive_spark.operators.spatial_sql import _rewrite, spatial_sql

LITERALS = [
    # irregular convex octagon, like the benchmark's windows
    "POLYGON ((0.31 0.02, 0.77 0.11, 1.03 0.47, 0.96 0.88, 0.58 1.07, 0.12 0.93, -0.09 0.55, 0.03 0.21, 0.31 0.02))",
    # concave, with horizontal edges and a reflex vertex level with others
    "POLYGON ((0 0, 4 0, 4 3, 2 1, 0 3, 0 0))",
    # two holes
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2), (6 6, 8 6, 7 8, 6 6))",
    # parts sharing a vertex, one holed
    "MULTIPOLYGON (((0 0, 3 0, 3 3, 0 3, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1)), ((3 3, 5 3, 5 5, 3 3)))",
    # lon/lat magnitudes
    "POLYGON ((-73.99 40.70, -73.95 40.71, -73.94 40.75, -73.98 40.76, -73.99 40.70))",
]
# the five predicates in both argument orders; (fn, point first)
PAIRS = [(fn, pf) for fn in ("st_intersects", "st_within", "st_contains", "st_covers", "st_disjoint")
         for pf in (True, False)]


def _call(fn: str, point_first: bool, col: str, wkt: str) -> str:
    lit = f"st_geomFromWKT('{wkt}')"
    return f"{fn}({col}, {lit})" if point_first else f"{fn}({lit}, {col})"


def _probe_points(rng: np.random.Generator) -> list[tuple[float, float]]:
    """Vertices, points along edges, on segment extensions and at
    ±{0.9999999, 1, 1.0000001, 2, 3}·eps along edge normals, plus
    random points around each literal."""
    pts = []
    for wkt in LITERALS:
        g = from_wkt(wkt)
        eps = _EPS * _scale(g)
        for part in g.geometries():
            for ring in part.rings:
                for (x1, y1), (x2, y2) in zip(ring[:-1, :2].tolist(), ring[1:, :2].tolist()):
                    dx, dy = x2 - x1, y2 - y1
                    ln = math.hypot(dx, dy)
                    nx, ny = -dy / ln, dx / ln
                    pts.append((x1, y1))
                    for f in (0.25, 0.5, 0.75, -0.5, 1.5, 1 + 1e-9, -1e-9):
                        pts.append((x1 + f * dx, y1 + f * dy))
                    for f in (0.0, 0.5, 1.0):
                        bx, by = x1 + f * dx, y1 + f * dy
                        for k in (0.9999999, 1.0, 1.0000001, 2.0, 3.0):
                            pts += [(bx + s * k * eps * nx, by + s * k * eps * ny) for s in (1, -1)]
                            pts += [(bx + s * k * eps, by) for s in (1, -1)]
        x0, y0, x1, y1 = g.bounds
        w, h = x1 - x0, y1 - y0
        pts += list(zip(rng.uniform(x0 - w / 4, x1 + w / 4, 60).tolist(), rng.uniform(y0 - h / 4, y1 + h / 4, 60).tolist()))
    return pts


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    """A points lake of the probe points plus a NULL, a ``POINT EMPTY``
    and a NaN row, viewed as ``fuzz_pts``."""
    rng = np.random.default_rng(7)
    rows = [(i, bytearray(to_wkb(Point([[x, y]])))) for i, (x, y) in enumerate(_probe_points(rng))]
    n = len(rows)
    rows += [(n, None), (n + 1, bytearray(to_wkb(from_wkt("POINT EMPTY")))),
             (n + 2, bytearray(to_wkb(Point([[float("nan"), 1.0]]))))]
    df = spark.createDataFrame(rows, "id long, geom binary")
    path = str(tmp_path_factory.mktemp("native") / "pts")
    write_spatially_partitioned(df, path, "geom", num_files=4)
    spark.read.parquet(path).createOrReplaceTempView("fuzz_pts")
    return path, len(rows)


def _python_nodes(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("ArrowEvalPython")


def test_writer_records_point_claim(spark, lake):
    path, _ = lake
    assert os.path.exists(os.path.join(path, "_common_metadata"))
    schema = spark.table("fuzz_pts").schema
    assert schema["geom"].metadata == {"geo": {"covering": "bbox", "geometry_types": ["Point"]}}
    assert schema["bbox"].metadata == {"geo": {"covering_of": "geom"}}
    # the summary is not data: the row count is the data files'
    assert spark.read.parquet(path).count() == lake[1]


def test_native_sql_equals_udf_in_select(spark, lake):
    """Every native pair, every literal, every row: the rewritten SELECT
    equals the UDF's, NULL told apart from false."""
    cols = [(fn, pf, wkt) for wkt in LITERALS for fn, pf in PAIRS if (fn, pf) != ("st_within", False)]
    items = ", ".join(f"{_call(fn, pf, 'geom', w)} AS c{i}" for i, (fn, pf, w) in enumerate(cols))
    sql = f"SELECT id, {items} FROM fuzz_pts"
    native = spatial_sql(spark, sql)
    assert _python_nodes(native) == 0
    got = {r["id"]: tuple(r)[1:] for r in native.collect()}
    want = {r["id"]: tuple(r)[1:] for r in spark.sql(sql).collect()}
    assert len(got) == lake[1]
    bad = [(i, cols[j][:2], cols[j][2][:30], got[i][j], want[i][j])
           for i in want for j in range(len(cols)) if got[i][j] != want[i][j]]
    assert bad == []
    # the NULL, POINT EMPTY and NaN rows are NULL, as in the UDF
    n = lake[1]
    assert {got[i] for i in (n - 3, n - 2, n - 1)} == {(None,) * len(cols)}
    # both boundary classes are exercised
    assert any(v is True for r in got.values() for v in r) and any(v is False for r in got.values() for v in r)


def test_native_sql_equals_udf_in_where(spark, lake):
    """In WHERE, with the covering conjunction pushed to the scan."""
    for wkt in LITERALS[2:4]:
        for fn, pf in PAIRS:
            sql = f"SELECT id FROM fuzz_pts WHERE {_call(fn, pf, 'geom', wkt)}"
            native = spatial_sql(spark, sql)
            assert _python_nodes(native) == (1 if (fn, pf) == ("st_within", False) else 0), (fn, pf)
            assert sorted(r.id for r in native.collect()) == sorted(r.id for r in spark.sql(sql).collect()), (fn, pf)


def test_extent_covering_term_is_native(spark, lake):
    """``st_intersects(bbox, <polygon>)`` on the covering of points is the
    same point test: the window_query ``geom`` shape runs no Python."""
    w = LITERALS[0]
    sql = (f"SELECT id, st_intersects(bbox, st_geomFromWKT('{w}')) AS a, st_within(bbox, st_geomFromWKT('{w}')) AS b"
           " FROM fuzz_pts")
    rewritten = _rewrite(spark, sql)
    assert rewritten.count("aggregate(") == 1 and "st_within(bbox, X'" in rewritten
    got = {r["id"]: r["a"] for r in spark.sql(rewritten).collect()}
    assert got == {r["id"]: r["a"] for r in spark.sql(sql).collect()}
    shape = (f"SELECT count(*) AS n FROM fuzz_pts WHERE ST_Intersects(bbox, ST_GeomFromWKT('{w}')) "
             f"AND ST_Intersects(geom, ST_GeomFromWKT('{w}'))")
    native = spatial_sql(spark, shape)
    assert native.collect() == spark.sql(shape).collect()
    assert _python_nodes(native) == 0


def _no_claim(df):
    """``df`` with every column's field metadata replaced: the UDF path."""
    return df.select(*[F.col(c).alias(c, metadata={"claim": "none"}) for c in df.columns])


def test_pushdown_api_is_native(spark, lake):
    df = spark.table("fuzz_pts")
    for wkt in LITERALS:
        for fn in (intersects_pushdown, contains_pushdown):
            got = fn(df, wkt, geom_col="geom", bbox_col="bbox")
            udf = fn(_no_claim(df), wkt, geom_col="geom", bbox_col="bbox")
            assert (_python_nodes(got), _python_nodes(udf)) == (0, 1)
            assert sorted(r.id for r in got.collect()) == sorted(r.id for r in udf.collect())
        # no window bbox column: the native test alone, with its own
        # covering conjunction
        got = intersects_pushdown(df, wkt, geom_col="geom")
        want = intersects_pushdown(_no_claim(df), wkt, geom_col="geom")
        assert sorted(r.id for r in got.collect()) == sorted(r.id for r in want.collect())


def _pushed_filters(df) -> str:
    """The PushedFilters of ``df``'s one Parquet scan, untruncated."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    scans = [n for n in scans if n.nodeName().startswith("Scan parquet")]
    assert len(scans) == 1
    return scans[0].metadata().get("PushedFilters").get()


def test_points_lake_plans_have_no_python_and_keep_pushdown(spark, tmp_path):
    """The SQL ``geom`` shape and ``intersects_pushdown`` on a
    ``write_spatially_partitioned`` lake: no ArrowEvalPython, and the
    bbox comparisons still reach the Parquet scan."""
    path = str(tmp_path / "pts")
    base = spark.range(400).select(
        "id", ST.st_makepoint((F.col("id") % 20).cast("double") / 2, (F.col("id") / 20).cast("double")).alias("geom"))
    write_spatially_partitioned(base, path, "geom", num_files=4)
    spark.read.parquet(path).createOrReplaceTempView("plan_pts")
    w = "POLYGON ((1 1, 6 2, 5 7, 2 6, 1 1))"
    sql = (f"SELECT count(*) AS n FROM plan_pts WHERE ST_Intersects(bbox, ST_GeomFromWKT('{w}')) "
           f"AND ST_Intersects(geom, ST_GeomFromWKT('{w}'))")
    api = intersects_pushdown(spark.table("plan_pts"), w, geom_col="geom", bbox_col="bbox").agg(F.count("*").alias("n"))
    expect = spark.sql(sql).collect()
    for df in (spatial_sql(spark, sql), api):
        assert df.collect() == expect
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        pushed = _pushed_filters(df)
        assert all(f"(bbox.{c}," in pushed for c in ("xmin", "ymin", "xmax", "ymax"))


def _udf_kept(spark, df, w):
    """``intersects_pushdown`` and the SQL shape on ``df`` run the UDF
    and agree with the plain UDF filter."""
    df.createOrReplaceTempView("kept")
    lit = F.lit(bytearray(to_wkb(from_wkt(w))))
    want = sorted(r.id for r in df.filter(ST.st_intersects(F.col("geom"), lit)).collect())
    api = intersects_pushdown(df, w, geom_col="geom", bbox_col="bbox" if "bbox" in df.columns else None)
    sql = spatial_sql(spark, f"SELECT id FROM kept WHERE ST_Intersects(geom, ST_GeomFromWKT('{w}'))")
    for got in (api, sql):
        assert _python_nodes(got) == 1
        assert sorted(r.id for r in got.collect()) == want
    return want


def test_mixed_appended_and_dropped_covering_keep_the_udf(spark, tmp_path):
    w = "POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0))"
    pts = spark.range(50).select("id", ST.st_makepoint((F.col("id") % 10).cast("double"),
                                                       (F.col("id") / 10).cast("double")).alias("geom"))
    polys = spark.createDataFrame([(100, "POLYGON ((5 5, 7 5, 7 7, 5 5))"), (101, "POLYGON ((20 20, 21 20, 21 21, 20 20))")],
                                  "id long, wkt string").select("id", ST.st_geomfromwkt("wkt").alias("geom"))
    # a mixed-type lake
    mixed = str(tmp_path / "mixed")
    write_spatially_partitioned(pts.unionByName(polys), mixed, "geom", num_files=2)
    df = spark.read.parquet(mixed)
    assert df.schema["geom"].metadata["geo"]["geometry_types"] == ["Point", "Polygon"]
    assert 100 in _udf_kept(spark, df, w)
    # a points lake with polygons appended: the claim is widened
    lake = str(tmp_path / "appended")
    write_spatially_partitioned(pts, lake, "geom", num_files=2)
    assert spark.read.parquet(lake).schema["geom"].metadata["geo"]["geometry_types"] == ["Point"]
    write_spatially_partitioned(polys, lake, "geom", num_files=1, mode="append")
    df = spark.read.parquet(lake)
    assert df.schema["geom"].metadata["geo"]["geometry_types"] == ["Point", "Polygon"]
    assert 100 in _udf_kept(spark, df, w)
    # a frame that dropped the covering
    df = spark.read.parquet(str(tmp_path / "appended")).filter("id < 100").select("id", "geom")
    assert df.schema["geom"].metadata["geo"]["geometry_types"] == ["Point", "Polygon"]
    points_only = str(tmp_path / "points_only")
    write_spatially_partitioned(pts, points_only, "geom", num_files=2)
    _udf_kept(spark, spark.read.parquet(points_only).select("id", "geom"), w)


def test_claim_on_partition_dirs_and_removed_by_failed_append(spark, tmp_path):
    pts = spark.range(40).select("id", ST.st_makepoint((F.col("id") % 8).cast("double") * 20,
                                                       (F.col("id") / 8).cast("double") * 15).alias("geom"))
    path = str(tmp_path / "dirs")
    write_spatially_partitioned(pts, path, "geom", zoom=2, partition_dirs=True)
    df = spark.read.parquet(path)
    assert df.schema["geom"].metadata["geo"]["geometry_types"] == ["Point"]
    assert "z2" in df.columns and df.count() == 40
    w = "POLYGON ((-1 -1, 70 -1, 70 40, -1 40, -1 -1))"
    got = intersects_pushdown(df, w, geom_col="geom", bbox_col="bbox")
    assert _python_nodes(got) == 0 and got.count() == 12
    # an append whose job fails leaves no claim: queries take the UDF
    failing = pts.withColumn("geom", F.when(F.col("id") < 1000, F.raise_error("boom")).cast("binary"))
    with pytest.raises(Exception, match="boom"):
        write_spatially_partitioned(failing, path, "geom", zoom=2, partition_dirs=True, mode="append")
    assert not os.path.exists(os.path.join(path, "_common_metadata"))
    df = spark.read.parquet(path)
    assert df.schema["geom"].metadata == {} and df.count() == 40


def test_union_with_other_geometries_raises_instead_of_answering(spark, lake):
    """A union keeps the first input's field metadata; a non-point row
    under a Point claim is an error, never a different answer."""
    other = spark.createDataFrame([(10_000, "POLYGON ((0 0, 1 0, 1 1, 0 0))")], "id long, wkt string").select(
        "id", ST.st_geomfromwkt("wkt").alias("geom"))
    other = other.withColumn("bbox", ST.st_extentfromgeom("geom"))
    both = spark.table("fuzz_pts").select("id", "geom", "bbox").unionByName(other)
    assert both.schema["geom"].metadata["geo"]["geometry_types"] == ["Point"]
    with pytest.raises(Exception, match="claims Point"):
        intersects_pushdown(both, LITERALS[1], geom_col="geom", bbox_col="bbox").collect()


def test_z2latlon_null_raises_no_warning():
    """``st_z2LatLon`` of a NULL geometry: same output, no NumPy cast warning."""
    import pandas as pd

    from geomesa_hive_spark.functions.st import SPEC

    batch = pd.Series([bytes(to_wkb(Point([[1.0, 2.0]]))), None, bytes(to_wkb(from_wkt("POINT EMPTY")))], dtype=object)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = SPEC["st_z2latlon"].func(batch)
    assert out.iloc[0].notna().all() and out.iloc[1:].isna().all().all()


def test_geometry_types_of_wkb_headers():
    """Only plain 2D or Z types get a GeoParquet name; an M coordinate,
    an EWKB SRID or junk makes the set unknown, so no Point claim covers
    a header the native path would refuse."""
    from geomesa_hive_spark.operators.partitioning import geometry_types

    assert geometry_types(["0101000000", "0000000001"]) == ["Point"]
    assert geometry_types(["0103000000", "0101000000"]) == ["Point", "Polygon"]
    assert geometry_types(["01E9030000", "0101000080"]) == ["Point Z"]
    assert geometry_types([]) == []
    for odd in ("01D1070000", "0101000040", "0101000020", "6A756E6B2D", "0101", "0108000000"):
        assert geometry_types(["0101000000", odd]) is None, odd
