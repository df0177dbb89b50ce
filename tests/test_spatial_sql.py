"""spatial_sql: SQL-string pushdown rewrite — correctness vs the raw
UDF predicate, plan shape (no Python eval; filters reach the Parquet
scan), and the analysis-failure fallback."""

import re

import pytest

from pyspark.sql import functions as F

from geomesa_hive_spark.functions import api as ST
from geomesa_hive_spark.functions.registry import register_all
from geomesa_hive_spark.operators.spatial_sql import (
    rewrite_spatial_predicates,
    spatial_sql,
)


def _grid(spark):
    register_all(spark)
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 10).cast("double").alias("x"),
        (F.col("id") / 10).cast("int").cast("double").alias("y"),
    )
    df = df.withColumn("bbox", ST.make_extent("x", "y", "x", "y")).withColumn(
        "geom", F.call_function("st_makepoint", F.col("x"), F.col("y"))
    )
    df.createOrReplaceTempView("sql_grid")
    return df


def test_rewrite_extent_literal_both_orders():
    out = rewrite_spatial_predicates(
        "SELECT * FROM t WHERE st_intersects(bbox, st_makeBBOX(1, 2, 3, 4))"
    )
    assert "st_intersects" not in out.lower()
    assert "bbox.xmin <= 3" in out and "bbox.ymax >= 2" in out
    out2 = rewrite_spatial_predicates(
        "SELECT * FROM t WHERE st_intersects(st_makeExtent(1, 2, 3, 4), bbox)"
    )
    assert "st_intersects" not in out2.lower()


def test_rewrite_contains_within_orientation():
    # st_contains(col, lit): col ⊇ lit → col.xmin <= lit.xmin
    out = rewrite_spatial_predicates(
        "SELECT * FROM t WHERE st_contains(bbox, st_makeBBOX(1, 2, 3, 4))"
    )
    assert "bbox.xmin <= 1" in out and "bbox.xmax >= 3" in out
    # st_contains(lit, col): lit ⊇ col → col ⊆ lit → col.xmin >= lit.xmin
    out2 = rewrite_spatial_predicates(
        "SELECT * FROM t WHERE st_contains(st_makeBBOX(1, 2, 3, 4), bbox)"
    )
    assert "bbox.xmin >= 1" in out2 and "bbox.xmax <= 3" in out2
    out3 = rewrite_spatial_predicates(
        "SELECT * FROM t WHERE st_within(bbox, st_makeBBOX(1, 2, 3, 4))"
    )
    assert "bbox.xmin >= 1" in out3


def test_rewrite_geometry_literal_keeps_original():
    sql = "SELECT * FROM t WHERE st_intersects(bbox, st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))'))"
    out = rewrite_spatial_predicates(sql)
    assert "st_geomfromwkt" in out.lower()      # original retained…
    assert "bbox.xmin <=" in out               # …behind the bbox prefilter


def test_spatial_sql_matches_udf(spark):
    _grid(spark)
    raw = "SELECT id FROM sql_grid WHERE st_intersects(bbox, st_makeBBOX(2.5, 2.5, 5.5, 5.5)) ORDER BY id"
    got = [r.id for r in spatial_sql(spark, raw).collect()]
    want = [r.id for r in spark.sql(raw).collect()]
    assert got == want and len(got) == 9  # x,y in 3..5 × 3..5


def test_spatial_sql_plan_is_native_and_pushed(spark, tmp_path):
    df = _grid(spark)
    path = str(tmp_path / "grid_parquet")
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("sql_grid_pq")
    out = spatial_sql(
        spark,
        "SELECT id FROM sql_grid_pq WHERE st_intersects(bbox, st_makeBBOX(2.5, 2.5, 5.5, 5.5))",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan            # no Python hop left
    # plan strings truncate long filter lists, so match within the line
    m = re.search(r"PushedFilters: \[[^\n]*xmin", plan)
    assert m                                   # bbox comparisons reached the scan


def test_spatial_sql_fallback_on_geometry_column(spark):
    _grid(spark)
    # binary geom column has no .xmin field: rewrite fails analysis,
    # original SQL (polymorphic UDF) must run and give the right answer
    raw = "SELECT id FROM sql_grid WHERE st_intersects(geom, st_makeBBOX(2.5, 2.5, 5.5, 5.5)) ORDER BY id"
    got = [r.id for r in spatial_sql(spark, raw).collect()]
    want = [r.id for r in spark.sql(raw).collect()]
    assert got == want and len(got) == 9

def test_rewrite_contains_geometry_literal_both_orders():
    # reference parity: STContainsRule keeps the exact predicate as a
    # conjunct behind the envelope prefilter (STContainsRule.scala:56-71)
    sql = "SELECT * FROM t WHERE st_contains(bbox, st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))'))"
    out = rewrite_spatial_predicates(sql)
    assert "st_geomfromwkt" in out.lower()
    # col ⊇ lit → envelope: col.xmin <= lit.xmin
    assert "bbox.xmin <= 0" in out and "bbox.xmax >= 4" in out
    sql2 = "SELECT * FROM t WHERE st_contains(st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))'), bbox)"
    out2 = rewrite_spatial_predicates(sql2)
    assert "st_geomfromwkt" in out2.lower()
    # lit ⊇ col → col ⊆ envelope(lit): col.xmin >= lit.xmin
    assert "bbox.xmin >= 0" in out2 and "bbox.xmax <= 4" in out2


def test_rewrite_backticked_and_qualified_identifiers():
    out = rewrite_spatial_predicates(
        "SELECT * FROM t WHERE st_intersects(t.`my bbox`, st_makeBBOX(1, 2, 3, 4))"
    )
    assert "st_intersects" not in out.lower()
    assert "t.`my bbox`.xmin <= 3" in out
    out2 = rewrite_spatial_predicates(
        "SELECT * FROM t WHERE st_within(`b`.`box`, st_makeBBOX(1, 2, 3, 4))"
    )
    assert "`b`.`box`.xmin >= 1" in out2


def test_rewrite_null_extent_projects_null(spark):
    """PROJECTED rewritten predicate must be NULL on a NULL extent,
    exactly like the UDF (round-2 divergence: the old IS-NOT-NULL form
    projected FALSE)."""
    _grid(spark)
    spark.sql(
        "SELECT id, CASE WHEN id = 0 THEN NULL ELSE bbox END AS bbox FROM sql_grid"
    ).createOrReplaceTempView("sql_grid_nulls")
    raw = ("SELECT id, st_intersects(bbox, st_makeBBOX(-1, -1, 99, 99)) AS hit "
           "FROM sql_grid_nulls ORDER BY id LIMIT 3")
    out = rewrite_spatial_predicates(raw)
    assert "st_intersects" not in out.lower()
    got = [(r.id, r.hit) for r in spark.sql(out).collect()]
    want = [(r.id, r.hit) for r in spark.sql(raw).collect()]
    assert got == want
    assert got[0][1] is None  # NULL extent → NULL, not False


def test_spatial_sql_null_guard_still_pushed(spark, tmp_path):
    """Dropping the textual IS-NOT-NULL guard must not lose the scan
    pushdown: the optimizer re-derives IsNotNull from the
    null-intolerant comparisons."""
    df = _grid(spark)
    path = str(tmp_path / "grid_parquet_nn")
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("sql_grid_pq_nn")
    out = spatial_sql(
        spark,
        "SELECT id FROM sql_grid_pq_nn WHERE st_within(bbox, st_makeBBOX(2.5, 2.5, 5.5, 5.5))",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[[^\n]*IsNotNull", plan)
    assert re.search(r"PushedFilters: \[[^\n]*xmin", plan)
    assert [r.id for r in out.orderBy("id").collect()] == [33, 34, 35, 43, 44, 45, 53, 54, 55]


def test_install_wraps_bare_spark_sql(spark, tmp_path):
    """install(spark): a BARE spark.sql() call gets the rewrite (plan
    shows pushed bbox filters, no Python eval), matching the reference's
    session-wide rule installation; uninstall restores the pristine
    method; double-install keeps a single wrapper layer."""
    from geomesa_hive_spark.operators.spatial_sql import install, uninstall

    df = _grid(spark)
    path = str(tmp_path / "grid_parquet_inst")
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("sql_grid_pq_inst")
    raw = ("SELECT id FROM sql_grid_pq_inst "
           "WHERE st_intersects(bbox, st_makeBBOX(2.5, 2.5, 5.5, 5.5))")
    try:
        install(spark)
        install(spark)  # idempotent: second call must not double-wrap
        out = spark.sql(raw)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
        assert re.search(r"PushedFilters: \[[^\n]*xmin", plan)
        assert sorted(r.id for r in out.collect()) == [
            33, 34, 35, 43, 44, 45, 53, 54, 55]
        # parameterized passthrough: args still reach the original sql()
        one = spark.sql("SELECT ? AS v", args=[42]).collect()
        assert one[0].v == 42
    finally:
        uninstall(spark)
        uninstall(spark)  # no-op on a pristine session
    # restored: the bare call runs the UDF plan again (Python hop back)
    plan_after = spark.sql(raw)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" in plan_after
    assert "sql" not in spark.__dict__  # class method restored, no shadow


def test_install_fallback_preserved(spark):
    """Through the installed wrapper, a rewrite that fails analysis
    (binary geometry column — no .xmin field) falls back to the
    original SQL and still returns the right rows."""
    from geomesa_hive_spark.operators.spatial_sql import install, uninstall

    _grid(spark)
    raw = ("SELECT id FROM sql_grid "
           "WHERE st_intersects(geom, st_makeBBOX(2.5, 2.5, 5.5, 5.5)) ORDER BY id")
    want = [r.id for r in spark.sql(raw).collect()]
    try:
        install(spark)
        got = [r.id for r in spark.sql(raw).collect()]
    finally:
        uninstall(spark)
    assert got == want and len(got) == 9


def test_dwithin_rewrite_and_semantics(spark):
    """st_dwithin SQL rewrite: d-expanded bbox prefilter prepended,
    original predicate kept (coarse-then-exact); swapped-argument
    form rewrites too; non-literal forms are left untouched; results
    equal the bare-UDF run and the coordinate filter."""
    r = rewrite_spatial_predicates(
        "SELECT 1 WHERE st_dwithin(bbox, st_makePoint(-30.0, 10.0), 2.5)")
    assert "bbox.xmin <= " in r and "st_dwithin" in r
    assert "-27.5" in r and "-32.5" in r and "7.5" in r and "12.5" in r
    r2 = rewrite_spatial_predicates(
        "SELECT 1 WHERE st_dwithin(st_makePoint(-30.0, 10.0), bbox, 2.5)")
    assert "bbox.xmin <= " in r2
    # non-literal second arg / coordinates: untouched
    for q in (
        "SELECT 1 WHERE st_dwithin(bbox, geom, 2.5)",
        "SELECT 1 WHERE st_dwithin(bbox, st_makePoint(a, b), 2.5)",
    ):
        assert rewrite_spatial_predicates(q) == q

    _grid(spark)
    q = ("SELECT count(*) AS n FROM sql_grid "
         "WHERE st_dwithin(bbox, st_makePoint(4.5, 4.5), 2.0)")
    got = spatial_sql(spark, q).collect()[0][0]
    bare = spark.sql(q).collect()[0][0]
    exp = spark.sql(
        "SELECT count(*) FROM sql_grid WHERE "
        "sqrt((x - 4.5) * (x - 4.5) + (y - 4.5) * (y - 4.5)) <= 2.0"
    ).collect()[0][0]
    assert got == bare == exp and got > 0


def test_dwithin_extent_literal_rewrite(spark, tmp_path):
    """VERDICT r9 #8: st_dwithin(col, st_makeBBOX(...), d) gets a
    d-expanded bbox prefilter (original kept — expanded-bbox is
    Chebyshev, dwithin is euclidean); swapped order too; plan-asserted
    pushed; results equal the bare UDF."""
    r = rewrite_spatial_predicates(
        "SELECT 1 WHERE st_dwithin(bbox, st_makeBBOX(1.0, 2.0, 3.0, 4.0), 0.5)")
    assert "st_dwithin" in r                  # original retained…
    assert "bbox.xmin <= 3.5" in r and "bbox.xmax >= 0.5" in r
    assert "bbox.ymin <= 4.5" in r and "bbox.ymax >= 1.5" in r
    r2 = rewrite_spatial_predicates(
        "SELECT 1 WHERE st_dwithin(st_makeExtent(1.0, 2.0, 3.0, 4.0), bbox, 0.5)")
    assert "bbox.xmin <= 3.5" in r2
    # non-literal args untouched
    q = "SELECT 1 WHERE st_dwithin(bbox, st_makeBBOX(a, 2.0, 3.0, 4.0), 0.5)"
    assert rewrite_spatial_predicates(q) == q

    df = _grid(spark)
    path = str(tmp_path / "dwext_pq")
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("dwext_pq")
    raw = ("SELECT id FROM dwext_pq "
           "WHERE st_dwithin(bbox, st_makeBBOX(3.5, 3.5, 4.5, 4.5), 1.0) "
           "ORDER BY id")
    out = spatial_sql(spark, raw)
    got = [x.id for x in out.collect()]
    want = [x.id for x in spark.sql(raw).collect()]
    assert got == want and len(got) > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PushedFilters: \[[^\n]*xmin", plan)
    assert m                                  # prefilter reached the scan


def test_dwithin_wkt_literal_rewrite(spark):
    """st_dwithin(col, st_geomFromWKT('...'), d): the literal's
    envelope expanded by d is prepended, original kept; swapped
    order; unparseable WKT untouched; results equal the bare UDF."""
    r = rewrite_spatial_predicates(
        "SELECT 1 WHERE st_dwithin(bbox, "
        "st_geomFromWKT('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'), 1.0)")
    assert "st_geomfromwkt" in r.lower() and "bbox.xmin <= 3.0" in r \
        and "bbox.xmax >= -1.0" in r
    r2 = rewrite_spatial_predicates(
        "SELECT 1 WHERE st_dwithin(st_geomFromWKT('POINT (5 5)'), bbox, 2.0)")
    assert "bbox.xmin <= 7.0" in r2 and "bbox.ymax >= 3.0" in r2
    bad = "SELECT 1 WHERE st_dwithin(bbox, st_geomFromWKT('NOPE'), 1.0)"
    assert rewrite_spatial_predicates(bad) == bad

    _grid(spark)
    raw = ("SELECT count(*) AS n FROM sql_grid WHERE st_dwithin(bbox, "
           "st_geomFromWKT('POINT (4.5 4.5)'), 2.0)")
    got = spatial_sql(spark, raw).collect()[0][0]
    bare = spark.sql(raw).collect()[0][0]
    assert got == bare and got > 0


def test_extent_from_wkt_literal_drops_udf(spark, tmp_path):
    """The reference's extent-literal branch (STContainsRule.scala:
    61-71 keeps the UDF only for Geometry literals): fn(col,
    st_extentFromGeom(st_geomFromWKT('...'))) is an EXTENT-vs-extent
    predicate, so the min/max conjunction IS the semantics and the
    UDF is dropped entirely — plan-asserted pushed, no Python hop."""
    sql = ("SELECT * FROM t WHERE st_contains(bbox, "
           "st_extentFromGeom(st_geomFromWKT("
           "'POLYGON ((1 2, 3 2, 3 4, 1 4, 1 2))')))")
    out = rewrite_spatial_predicates(sql)
    assert "st_contains" not in out.lower()
    assert "st_extentfromgeom" not in out.lower()
    assert "bbox.xmin <= 1" in out and "bbox.xmax >= 3" in out
    out2 = rewrite_spatial_predicates(
        "SELECT * FROM t WHERE st_within(st_extentFromGeom("
        "st_geomFromWKT('POLYGON ((1 2, 3 2, 3 4, 1 4, 1 2))')), bbox)")
    assert "st_within" not in out2.lower()
    assert "bbox.xmin <= 1" in out2          # lit within col → col ⊇ lit
    bad = ("SELECT * FROM t WHERE st_contains(bbox, "
           "st_extentFromGeom(st_geomFromWKT('NOPE')))")
    assert rewrite_spatial_predicates(bad) == bad

    df = _grid(spark)
    path = str(tmp_path / "extwkt_pq")
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("extwkt_pq")
    raw = ("SELECT id FROM extwkt_pq WHERE st_intersects(bbox, "
           "st_extentFromGeom(st_geomFromWKT("
           "'POLYGON ((2.5 2.5, 5.5 2.5, 5.5 5.5, 2.5 5.5, 2.5 2.5))'))) "
           "ORDER BY id")
    out3 = spatial_sql(spark, raw)
    got = [x.id for x in out3.collect()]
    want = [x.id for x in spark.sql(raw).collect()]
    assert got == want and len(got) == 9
    plan = out3._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan          # UDF fully dropped
    assert re.search(r"PushedFilters: \[[^\n]*xmin", plan)


def test_point_literal_shapes_match_udf(spark):
    """Round 11: st_makePoint literals rewrite as degenerate extents.
    st_intersects is EXACT (boundary included) so the UDF drops; OGC
    contains/within need interior intersection — a boundary point fails
    them — so there the comparison is a prefilter and the ORIGINAL
    predicate is kept (results must equal the raw UDF, which returns
    NOTHING for a point on a degenerate box under OGC semantics)."""
    _grid(spark)
    for raw in (
        "SELECT id FROM sql_grid WHERE st_intersects(bbox, st_makePoint(3.0, 4.0)) ORDER BY id",
        "SELECT id FROM sql_grid WHERE st_intersects(st_makePoint(3.0, 4.0), bbox) ORDER BY id",
    ):
        out = rewrite_spatial_predicates(raw)
        assert "st_makepoint" not in out.lower(), raw   # UDF dropped
        got = [r.id for r in spatial_sql(spark, raw).collect()]
        want = [r.id for r in spark.sql(raw).collect()]
        assert got == want == [43], raw                 # x=3,y=4 → id 43
    for raw in (
        "SELECT id FROM sql_grid WHERE st_contains(bbox, st_makePoint(3.0, 4.0)) ORDER BY id",
        "SELECT id FROM sql_grid WHERE st_within(st_makePoint(3.0, 4.0), bbox) ORDER BY id",
        "SELECT id FROM sql_grid WHERE st_within(bbox, st_makePoint(3.0, 4.0)) ORDER BY id",
    ):
        out = rewrite_spatial_predicates(raw)
        assert "st_makepoint" in out.lower(), raw       # original kept
        assert ".xmin" in out, raw                      # behind a prefilter
        got = [r.id for r in spatial_sql(spark, raw).collect()]
        want = [r.id for r in spark.sql(raw).collect()]
        assert got == want, raw                         # OGC semantics kept


def test_rewrite_inside_cte_and_subquery_plan_asserted(spark, tmp_path):
    """VERDICT r10 #7: the recognized shapes rewrite inside CTE and
    subquery TEXT too (the rewrite is position-independent), and the
    resulting filters still reach the parquet scan — plan-asserted for
    st_within(col, lit) and the operand-swapped st_intersects(lit, col)."""
    df = _grid(spark)
    path = str(tmp_path / "grid_pq_cte")
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("sql_grid_cte")

    cte = (
        "WITH hits AS ("
        "  SELECT id FROM sql_grid_cte"
        "  WHERE st_within(bbox, st_makeBBOX(2.5, 2.5, 5.5, 5.5))"
        ") SELECT count(*) AS n FROM hits"
    )
    out = spatial_sql(spark, cte)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert re.search(r"PushedFilters: \[[^\n]*xmin", plan)
    assert out.collect()[0].n == 9

    sub = (
        "SELECT count(*) AS n FROM ("
        "  SELECT id FROM sql_grid_cte"
        "  WHERE st_intersects(st_makeBBOX(2.5, 2.5, 5.5, 5.5), bbox)"
        ") q"
    )
    out2 = spatial_sql(spark, sub)
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan2
    assert re.search(r"PushedFilters: \[[^\n]*xmin", plan2)
    assert out2.collect()[0].n == 9

    # point-literal shapes, plan-asserted end-to-end: intersects drops
    # the UDF entirely; contains keeps it behind a PUSHED prefilter
    pt = (
        "SELECT id FROM sql_grid_cte "
        "WHERE st_intersects(bbox, st_makePoint(3.0, 4.0))"
    )
    out3 = spatial_sql(spark, pt)
    plan3 = out3._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan3
    assert re.search(r"PushedFilters: \[[^\n]*xmin", plan3)
    assert [r.id for r in out3.collect()] == [43]
    ct = (
        "SELECT id FROM sql_grid_cte "
        "WHERE st_contains(bbox, st_makePoint(3.0, 4.0))"
    )
    out4 = spatial_sql(spark, ct)
    plan4 = out4._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" in plan4                      # OGC predicate kept
    assert re.search(r"PushedFilters: \[[^\n]*xmin", plan4)  # prefilter pushed
    raw4 = [r.id for r in spark.sql(ct).collect()]
    assert [r.id for r in out4.collect()] == raw4


def test_extent_point_literal_drops_udf_all_predicates(spark, tmp_path):
    """Round 12: st_extentFromGeom(st_makePoint(x, y)) is an EXTENT
    literal (degenerate [x,x]×[y,y]), not a geometry — extent
    containment is pure interval inclusion, so the min/max conjunction
    IS the semantics for ALL THREE predicates and the UDF is dropped
    (the bare-point GEOMETRY form keeps it for contains/within; the
    reference's isGeometry=false branch, STContainsRule.scala:61-71).
    Both operand orders; plan-asserted pushed with no Python hop."""
    import re as _re

    _grid(spark)
    shapes = [
        "st_intersects(bbox, st_extentFromGeom(st_makePoint(3.0, 4.0)))",
        "st_intersects(st_extentFromGeom(st_makePoint(3.0, 4.0)), bbox)",
        "st_contains(bbox, st_extentFromGeom(st_makePoint(3.0, 4.0)))",
        "st_contains(st_extentFromGeom(st_makePoint(3.0, 4.0)), bbox)",
        "st_within(bbox, st_extentFromGeom(st_makePoint(3.0, 4.0)))",
        "st_within(st_extentFromGeom(st_makePoint(3.0, 4.0)), bbox)",
    ]
    for pred in shapes:
        raw = f"SELECT id FROM sql_grid WHERE {pred} ORDER BY id"
        out = rewrite_spatial_predicates(raw)
        assert "st_extentfromgeom" not in out.lower(), pred
        assert "st_makepoint" not in out.lower(), pred  # UDF dropped
        assert ".xmin" in out, pred
        got = [r.id for r in spatial_sql(spark, raw).collect()]
        want = [r.id for r in spark.sql(raw).collect()]
        assert got == want, (pred, got, want)

    # plan assert on a parquet-backed table: pushed, no EvalPython
    df = _grid(spark)
    path = str(tmp_path / "extpt_pq")
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("extpt_pq")
    out3 = spatial_sql(
        spark,
        "SELECT id FROM extpt_pq WHERE st_contains(bbox, "
        "st_extentFromGeom(st_makePoint(3.0, 4.0))) ORDER BY id",
    )
    plan = out3._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert _re.search(r"PushedFilters: \[[^\n]*xmin", plan)


# ---------------------------------------------------------------------------
# spatial JOIN rewrite (round 13)
# ---------------------------------------------------------------------------


def _join_views(spark):
    """Dense points × overlapping boxes so the join actually matches:
    400 points on a 20×20 lattice, 25 boxes each spanning ~4×4 cells."""
    register_all(spark)
    pts = spark.range(400).select(
        F.col("id").alias("pid"),
        ((F.col("id") % 20).cast("double") * 0.7 - 5.0).alias("px"),
        ((F.col("id") / 20).cast("int").cast("double") * 0.6 - 4.0).alias("py"),
    )
    pts = pts.withColumn(
        "geom", F.call_function("st_makepoint", F.col("px"), F.col("py"))
    )
    pts.createOrReplaceTempView("sjr_pts")
    boxes = spark.range(25).select(
        F.col("id").alias("bid"),
        ((F.col("id") % 5).cast("double") * 2.1 - 5.005).alias("x0"),
        ((F.col("id") / 5).cast("int").cast("double") * 1.9 - 4.005).alias("y0"),
    )
    boxes = boxes.withColumn(
        "pgeom",
        F.call_function(
            "st_makebbox", F.col("x0"), F.col("y0"),
            F.col("x0") + 3.0, F.col("y0") + 2.5,
        ),
    )
    boxes.createOrReplaceTempView("sjr_boxes")
    return pts, boxes


def test_join_rewrite_matches_cartesian_all_predicates(spark):
    """The PBSM join rewrite returns EXACTLY the rows the cartesian+UDF
    plan returns (reference-point dedup: once each), for both argument
    orders and for a predicate with an extra AND conjunct, and the
    executed plan contains no CartesianProduct/BroadcastNestedLoopJoin."""
    from geomesa_hive_spark.operators.spatial_sql import (
        rewrite_spatial_join,
    )

    _join_views(spark)
    shapes = [
        "st_within(p.geom, b.pgeom)",
        "st_intersects(p.geom, b.pgeom)",
        "st_intersects(b.pgeom, p.geom)",     # swapped args
        "st_contains(b.pgeom, p.geom)",
    ]
    for pred in shapes:
        q = (
            "SELECT p.pid AS pid, b.bid AS bid FROM sjr_pts p "
            f"JOIN sjr_boxes b ON {pred} ORDER BY pid, bid"
        )
        rw = rewrite_spatial_join(q)
        assert rw != q, pred
        out = spatial_sql(spark, q)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, pred
        assert "BroadcastNestedLoopJoin" not in plan, pred
        got = [(r.pid, r.bid) for r in out.collect()]
        want = [(r.pid, r.bid) for r in spark.sql(q).collect()]
        assert got == want and len(got) > 50, (pred, len(got), len(want))

    # trailing AND conjunct stays in the ON clause and composes
    q2 = (
        "SELECT p.pid AS pid, b.bid AS bid FROM sjr_pts p JOIN sjr_boxes b "
        "ON st_within(p.geom, b.pgeom) AND b.bid % 2 = 0 ORDER BY pid, bid"
    )
    assert rewrite_spatial_join(q2) != q2
    got2 = [(r.pid, r.bid) for r in spatial_sql(spark, q2).collect()]
    want2 = [(r.pid, r.bid) for r in spark.sql(q2).collect()]
    assert got2 == want2 and len(got2) > 20


def test_join_rewrite_dwithin_matches_cartesian(spark):
    """st_dwithin JOIN: the distance_join form (one-sided d-expansion +
    gap prune) returns exactly the cartesian rows; WHERE/GROUP BY after
    the join survive the rewrite untouched."""
    from geomesa_hive_spark.operators.spatial_sql import (
        rewrite_spatial_join,
    )

    _join_views(spark)
    q = (
        "SELECT p.pid AS pid, b.bid AS bid FROM sjr_pts p JOIN sjr_boxes b "
        "ON st_dwithin(p.geom, b.pgeom, 0.5) ORDER BY pid, bid"
    )
    assert rewrite_spatial_join(q) != q
    out = spatial_sql(spark, q)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = [(r.pid, r.bid) for r in out.collect()]
    want = [(r.pid, r.bid) for r in spark.sql(q).collect()]
    assert got == want and len(got) > 50

    # aggregation over the rewritten join
    q3 = (
        "SELECT b.bid AS bid, count(1) AS cnt FROM sjr_pts p "
        "JOIN sjr_boxes b ON st_dwithin(p.geom, b.pgeom, 0.5) "
        "WHERE p.pid < 300 GROUP BY b.bid ORDER BY bid"
    )
    got3 = [(r.bid, r.cnt) for r in spatial_sql(spark, q3).collect()]
    want3 = [(r.bid, r.cnt) for r in spark.sql(q3).collect()]
    assert got3 == want3 and len(got3) > 5


def test_join_rewrite_and_operators_return_the_same_pairs(spark):
    """The SQL join rewrite and the DataFrame joins run one PBSM core: on
    the same inputs, plus a NULL and an empty geometry, they return the
    same pairs, each once."""
    from geomesa_hive_spark.operators.spatial_join import distance_join, spatial_join
    from geomesa_hive_spark.operators.spatial_sql import rewrite_spatial_join

    pts, boxes = _join_views(spark)
    odd = spark.sql(
        "SELECT 400L AS pid, 0.0D AS px, 0.0D AS py, CAST(NULL AS BINARY) AS geom "
        "UNION ALL SELECT 401L, 0.0D, 0.0D, st_geomFromWKT('POINT EMPTY')"
    )
    pts = pts.unionByName(odd)
    pts.createOrReplaceTempView("sjr_pts_odd")
    cases = [
        ("st_intersects(p.geom, b.pgeom)",
         spatial_join(pts, boxes, predicate="intersects", left_geom="geom", right_geom="pgeom")),
        ("st_dwithin(p.geom, b.pgeom, 0.5)",
         distance_join(pts, boxes, 0.5, left_geom="geom", right_geom="pgeom")),
    ]
    for pred, api in cases:
        q = f"SELECT p.pid AS pid, b.bid AS bid FROM sjr_pts_odd p JOIN sjr_boxes b ON {pred}"
        assert rewrite_spatial_join(q) != q, pred
        got = [(r.pid, r.bid) for r in spatial_sql(spark, q).collect()]
        want = [(r.pid, r.bid) for r in api.select("pid", "bid").collect()]
        assert len(got) == len(set(got)) and len(want) == len(set(want)), pred
        assert set(got) == set(want) and len(got) > 50, (pred, len(got), len(want))


def test_join_rewrite_comma_and_head_conjuncts(spark):
    """Round 14: the PostGIS comma-join idiom (FROM a, b WHERE st_*)
    and leading AND-composed conjuncts before the predicate (both ON
    and WHERE) reach the same PBSM rewrite and return exactly the
    cartesian+UDF rows; the rest of the WHERE clause survives
    verbatim behind WHERE TRUE."""
    from geomesa_hive_spark.operators.spatial_sql import (
        rewrite_spatial_join,
    )

    _join_views(spark)
    shapes = [
        # comma form, predicate first
        "SELECT p.pid AS pid, b.bid AS bid FROM sjr_pts p, sjr_boxes b "
        "WHERE st_within(p.geom, b.pgeom) ORDER BY pid, bid",
        # comma form, swapped args + head and tail conjuncts
        "SELECT p.pid AS pid, b.bid AS bid FROM sjr_pts p, sjr_boxes b "
        "WHERE p.pid >= 0 AND st_contains(b.pgeom, p.geom) "
        "AND b.bid % 2 = 0 ORDER BY pid, bid",
        # comma form, dwithin with a head conjunct
        "SELECT p.pid AS pid, b.bid AS bid FROM sjr_pts p, sjr_boxes b "
        "WHERE p.pid < 400 AND st_dwithin(p.geom, b.pgeom, 0.5) "
        "ORDER BY pid, bid",
        # ON form with leading equi/filter conjuncts
        "SELECT p.pid AS pid, b.bid AS bid FROM sjr_pts p JOIN sjr_boxes b "
        "ON p.pid % 3 = b.bid % 3 AND st_within(p.geom, b.pgeom) "
        "ORDER BY pid, bid",
        # comma form feeding an aggregate
        "SELECT b.bid AS bid, count(1) AS cnt FROM sjr_pts p, sjr_boxes b "
        "WHERE st_intersects(p.geom, b.pgeom) GROUP BY b.bid ORDER BY bid",
    ]
    for q in shapes:
        rw = rewrite_spatial_join(q)
        assert rw != q, q
        out = spatial_sql(spark, q)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q
        got = [tuple(r) for r in out.collect()]
        want = [tuple(r) for r in spark.sql(q).collect()]
        assert got == want and len(got) > 5, (q, len(got), len(want))


def test_convexhull_sql_two_phase(spark):
    """Round 14: the SQL st_convexhull aggregate is rewritten to the
    two-phase partial-hull / hull-of-hulls shape — results bit-identical
    to the direct GROUPED_AGG, plan shows TWO ArrowAggregatePython
    stages, unsupported shapes fall through unchanged."""
    from geomesa_hive_spark import register_all
    from geomesa_hive_spark.operators.spatial_sql import (
        install, rewrite_convexhull_agg, uninstall,
    )

    register_all(spark)
    spark.range(0, 800, 1, 8).selectExpr(
        "id % 3 AS k",
        "st_makePoint(CAST(id % 97 AS DOUBLE), CAST(id % 89 AS DOUBLE)) AS g",
        "CAST(NULL AS BINARY) AS gnull",
    ).createOrReplaceTempView("cvx_t")

    shapes = [
        "SELECT k, st_convexhull(g) AS h FROM cvx_t GROUP BY k",
        "SELECT st_convexhull(g) AS h FROM cvx_t",                 # global
        "SELECT k, st_convexhull(g) AS h FROM cvx_t "
        "WHERE k < 2 GROUP BY k ORDER BY k",
        "SELECT k AS kk, st_convexhull(g) AS h FROM cvx_t GROUP BY k",
        "SELECT k, st_convexhull(gnull) AS h FROM cvx_t GROUP BY k",  # all-null
    ]
    install(spark)
    try:
        for q in shapes:
            assert rewrite_convexhull_agg(q) != q, q
            plan = (spark.sql(q)._jdf.queryExecution()
                    .executedPlan().toString())
            assert plan.count("ArrowAggregatePython") == 2, q
    finally:
        uninstall(spark)
    # bit-identity vs the direct single-phase UDAF, outside install()
    for q in shapes:
        direct = sorted(
            tuple(bytes(v).hex() if isinstance(v, (bytes, bytearray))
                  else v for v in r) for r in spark.sql(q).collect())
        two = sorted(
            tuple(bytes(v).hex() if isinstance(v, (bytes, bytearray))
                  else v for v in r)
            for r in spark.sql(rewrite_convexhull_agg(q)).collect())
        assert direct == two, q

    untouched = [
        "SELECT k, count(*) AS c, st_convexhull(g) AS h FROM cvx_t GROUP BY k",
        "SELECT k, st_convexhull(g) FROM cvx_t GROUP BY k",       # no alias
        "SELECT k, st_convexhull(g) AS h FROM cvx_t GROUP BY k "
        "HAVING count(*) > 1",
        "SELECT DISTINCT k, st_convexhull(g) AS h FROM cvx_t GROUP BY k",
        "SELECT k, st_convexhull(g) AS h FROM (SELECT * FROM cvx_t) "
        "GROUP BY k",
        "SELECT k2, st_convexhull(g) AS h FROM cvx_t GROUP BY k",
        "SELECT a.k, st_convexhull(a.g) AS h FROM cvx_t a "
        "JOIN cvx_t b ON a.k = b.k GROUP BY a.k",
        "SELECT /* c */ k, st_convexhull(g) AS h FROM cvx_t GROUP BY k",
        "SELECT k, st_convexhull(g) AS h FROM cvx_t GROUP BY k "
        "UNION ALL SELECT 9, NULL",
        "SELECT k, st_convexhull(g) AS h FROM cvx_t -- c\nGROUP BY k",
    ]
    for q in untouched:
        assert rewrite_convexhull_agg(q) == q, q
    # a comment marker or an escaped quote inside a string literal is text
    for lit in ("'x--y'", "'a\\'b'"):
        assert rewrite_convexhull_agg(
            f"SELECT k, st_convexhull(g) AS h FROM cvx_t WHERE s = {lit} GROUP BY k"
        ) == (
            "SELECT __gk0 AS k, st_convexhull(__ph0) AS h FROM (SELECT k AS __gk0, "
            "st_convexhull(g) AS __ph0 FROM (SELECT *, spark_partition_id() AS __pid "
            f"FROM cvx_t) cvx_t WHERE s = {lit} GROUP BY k, __pid) __cvx GROUP BY __gk0")


def test_extent_agg_rewrite_native_and_identical(spark):
    """Round 14: SQL st_extent rewrites to a FULLY NATIVE min/max plan
    (zero ArrowAggregatePython), bit-identical to the GROUPED_AGG
    fallback across grouped/global/filtered/null/empty shapes; mixed
    aggregates fall through to the UDAF and still answer."""
    from geomesa_hive_spark import register_all
    from geomesa_hive_spark.operators.spatial_sql import (
        install, rewrite_extent_agg, uninstall,
    )

    register_all(spark)
    spark.range(0, 600, 1, 8).selectExpr(
        "id % 3 AS k",
        "CASE WHEN id % 53 = 0 THEN CAST(NULL AS BINARY) "
        "WHEN id % 97 = 0 THEN st_geomFromWKT('LINESTRING EMPTY') "
        "ELSE st_makePoint(CAST(id % 89 AS DOUBLE), "
        "CAST(id % 83 AS DOUBLE)) END AS g",
    ).createOrReplaceTempView("ext_t")

    shapes = [
        "SELECT k, st_extent(g) AS e FROM ext_t GROUP BY k",
        "SELECT st_extent(g) AS e FROM ext_t",
        "SELECT k, st_extent(g) AS e FROM ext_t WHERE k < 2 "
        "GROUP BY k ORDER BY k",
    ]
    install(spark)
    try:
        for q in shapes:
            assert rewrite_extent_agg(q) != q, q
            out = spark.sql(q)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "ArrowAggregatePython" not in plan, q
    finally:
        uninstall(spark)
    for q in shapes:
        direct = sorted(
            tuple(bytes(v).hex() if isinstance(v, (bytes, bytearray))
                  else v for v in r) for r in spark.sql(q).collect())
        native = sorted(
            tuple(bytes(v).hex() if isinstance(v, (bytes, bytearray))
                  else v for v in r)
            for r in spark.sql(rewrite_extent_agg(q)).collect())
        assert direct == native, q

    # mixed aggregates: fall through, UDAF answers
    q_mixed = ("SELECT k, count(*) AS c, st_extent(g) AS e FROM ext_t "
               "GROUP BY k")
    assert rewrite_extent_agg(q_mixed) == q_mixed
    assert spark.sql(q_mixed).count() == 3

    # '--' and an escaped quote inside literals are text; a real comment
    # still falls through (the clause slices are pasted verbatim)
    q_lit = "SELECT st_extent(g) AS e FROM ext_t WHERE 'x--y' <> 'a\\'b'"
    assert rewrite_extent_agg(q_lit).endswith(
        " AS e FROM (SELECT st_extentfromgeom(g) AS __bb0 FROM ext_t "
        "WHERE 'x--y' <> 'a\\'b') __cvx")
    q_com = "SELECT st_extent(g) AS e FROM ext_t WHERE k < 2 -- c"
    assert rewrite_extent_agg(q_com) == q_com

    # all-null group → NULL on both paths
    spark.sql("SELECT 1 AS k, CAST(NULL AS BINARY) AS g") \
        .createOrReplaceTempView("ext_n")
    qn = "SELECT k, st_extent(g) AS e FROM ext_n GROUP BY k"
    assert spark.sql(qn).collect()[0].e is None
    assert spark.sql(rewrite_extent_agg(qn)).collect()[0].e is None


def test_join_rewrite_fall_throughs(spark):
    """Unsound/unrecognized shapes return the SQL unchanged: star
    selects (internals would leak), OR after the predicate (defeats
    reference-point dedup), same-alias args, unqualified args, negative
    distance, NOT before the predicate."""
    from geomesa_hive_spark.operators.spatial_sql import (
        rewrite_spatial_join,
    )

    untouched = [
        "SELECT * FROM a x JOIN b y ON st_intersects(x.g, y.g)",
        "SELECT x.* FROM a x JOIN b y ON st_intersects(x.g, y.g)",
        "SELECT x.id, y.* FROM a x JOIN b y ON st_intersects(x.g, y.g)",
        "SELECT x.id FROM a x JOIN b y ON st_intersects(x.g, y.g) OR x.id = y.id",
        "SELECT x.id FROM a x JOIN b y ON st_intersects(x.g, x.g)",
        "SELECT x.id FROM a x JOIN b y ON st_intersects(g, y.g)",
        "SELECT x.id FROM a x JOIN b y ON st_dwithin(x.g, y.g, -2.0)",
        "SELECT x.id FROM a x JOIN b y ON NOT st_intersects(x.g, y.g)",
        "SELECT x.id FROM a x JOIN b y ON st_intersects(x.g, z.g)",
        "SELECT x.id FROM a x LEFT JOIN b y ON st_intersects(x.g, y.g)",
        # round-13 review holes, pinned: a deeper top-level OR after
        # intervening ANDs still defeats reference-point dedup
        "SELECT x.id FROM a x JOIN b y ON st_intersects(x.g, y.g) "
        "AND x.id = 1 OR y.flag = true",
        "SELECT x.id FROM a x JOIN b y ON st_intersects(x.g, y.g) "
        "AND (x.id = 1 OR y.id = 2) OR y.flag = true",
        # operator continuation binds to the predicate itself
        "SELECT x.id FROM a x JOIN b y ON st_intersects(x.g, y.g) = false",
        # star hidden behind a hint comment / ALL keyword
        "SELECT /*+ BROADCAST(y) */ * FROM a x JOIN b y "
        "ON st_intersects(x.g, y.g)",
        "SELECT ALL * FROM a x JOIN b y ON st_intersects(x.g, y.g)",
        # round-14 comma/head shapes that must fall through: OR arms,
        # >2 comma tables, NOT, predicate under a function, predicate
        # in a later clause than the matched one, paren-grouped ON
        "SELECT x.id FROM a x, b y WHERE x.id = 1 OR st_intersects(x.g, y.g)",
        "SELECT x.id FROM a x, b y WHERE st_intersects(x.g, y.g) OR x.id = 1",
        "SELECT x.id FROM a x, b y, c z WHERE st_intersects(x.g, y.g)",
        "SELECT x.id FROM a x, b y WHERE NOT st_intersects(x.g, y.g)",
        "SELECT x.id FROM a x, b y "
        "WHERE coalesce(st_intersects(x.g, y.g), false)",
        "SELECT x.id FROM a x JOIN b y ON x.k = y.k "
        "WHERE st_intersects(x.g, y.g)",
        "SELECT x.id FROM a x JOIN b y "
        "ON (x.k = y.k AND st_intersects(x.g, y.g))",
        "SELECT x.id FROM a x JOIN b y "
        "ON x.k IN (1, 2) OR st_intersects(x.g, y.g)",
    ]
    for q in untouched:
        assert rewrite_spatial_join(q) == q, q
    # count(*) is NOT a star select item — the rewrite proceeds
    q_ok = ("SELECT count(*) AS cnt FROM a x JOIN b y "
            "ON st_intersects(x.g, y.g)")
    assert rewrite_spatial_join(q_ok) != q_ok
    # an OR safely INSIDE parens of a trailing AND conjunct is fine,
    # and a string literal containing ' or ' never false-positives
    q_ok2 = ("SELECT x.id FROM a x JOIN b y ON st_intersects(x.g, y.g) "
             "AND (x.id = 1 OR y.id = 2)")
    assert rewrite_spatial_join(q_ok2) != q_ok2
    q_ok3 = ("SELECT x.id FROM a x JOIN b y ON st_intersects(x.g, y.g) "
             "AND x.name = 'black or white'")
    assert rewrite_spatial_join(q_ok3) != q_ok3
    # round-14 ADVICE: double-quoted literals and backticked
    # identifiers containing ' or ' must not block the rewrite either
    q_ok4 = ("SELECT x.id FROM a x JOIN b y ON st_intersects(x.g, y.g) "
             'AND x.name = "black or white"')
    assert rewrite_spatial_join(q_ok4) != q_ok4
    q_ok5 = ("SELECT x.id FROM a x JOIN b y ON st_intersects(x.g, y.g) "
             "AND x.`rock or roll` = 1")
    assert rewrite_spatial_join(q_ok5) != q_ok5

    # round-14 ADVICE: a degenerate extent with finite xmin but NaN in
    # ANY other bound must yield NULL cells (dropped by explode), not
    # spurious grid cells via NaN→0 bigint casts
    from geomesa_hive_spark.operators.spatial_join import cells_sql

    cells_expr = cells_sql("b", 1.0)
    for bad in ("ymin", "xmax", "ymax"):
        fields = {"xmin": "0.1D", "ymin": "0.1D",
                  "xmax": "2.3D", "ymax": "2.3D"}
        fields[bad] = "double('nan')"
        ns = ", ".join(f"'{k}', {v}" for k, v in fields.items())
        got = spark.sql(
            f"SELECT {cells_expr} AS cells "
            f"FROM (SELECT named_struct({ns}) AS b)"
        ).collect()
        assert got[0].cells is None, bad
    finite = spark.sql(
        f"SELECT {cells_expr} AS cells FROM (SELECT named_struct("
        "'xmin', 0.1D, 'ymin', 0.1D, 'xmax', 2.3D, 'ymax', 2.3D) AS b)"
    ).collect()
    assert len(finite[0].cells) == 9

    # install() routes the join rewrite too, and null geometries drop
    # (never join) exactly as in the DataFrame operator
    from geomesa_hive_spark.operators.spatial_sql import install, uninstall

    register_all(spark)
    spark.sql(
        "SELECT 1 AS id, CAST(NULL AS BINARY) AS geom "
        "UNION ALL SELECT 2, st_geomFromWKT('POINT (1 1)')"
    ).createOrReplaceTempView("sjr_null")
    spark.sql(
        "SELECT 10 AS rid, st_makeBBOX(0.0D, 0.0D, 2.0D, 2.0D) AS pgeom"
    ).createOrReplaceTempView("sjr_one")
    install(spark)
    try:
        got = spark.sql(
            "SELECT n.id AS id, r.rid AS rid FROM sjr_null n "
            "JOIN sjr_one r ON st_within(n.geom, r.pgeom)"
        ).collect()
        assert [(r.id, r.rid) for r in got] == [(2, 10)]
    finally:
        uninstall(spark)


def test_install_and_spatial_sql_hand_spark_the_same_rewrite():
    """install()'s wrapper and spatial_sql() run one rewrite chain: for a
    window predicate, a PBSM join and an st_extent aggregate, both hand
    spark.sql the same rewritten string."""
    from geomesa_hive_spark.operators.spatial_sql import install

    class CaptureSession:
        def __init__(self):
            self.seen = []

        def sql(self, text):
            self.seen.append(text)

    queries = [
        "SELECT id FROM t WHERE st_intersects(bbox, st_makeBBOX(0, 0, 1, 1))",
        "SELECT z.id AS zid, count(*) AS n FROM pts p JOIN zones z "
        "ON ST_Intersects(p.geom, z.geom) GROUP BY z.id",
        "SELECT k, st_extent(g) AS e FROM t GROUP BY k",
    ]
    for q in queries:
        direct, installed = CaptureSession(), install(CaptureSession())
        spatial_sql(direct, q)
        installed.sql(q)
        assert len(direct.seen) == 1 and direct.seen[0] != q
        assert installed.seen == direct.seen


def test_rewrite_leaves_literals_and_comments_alone():
    """A predicate spelled inside a string literal or a comment is text,
    not a call: neither the predicate nor the join rewrite touches it,
    while the real call beside it is still rewritten."""
    from geomesa_hive_spark.operators.spatial_sql import rewrite_spatial_join

    lit = "SELECT 'ST_Intersects(bbox, ST_MakeBBOX(0,0,1,1))' AS s"
    assert rewrite_spatial_predicates(lit) == lit
    com = "SELECT 1 AS s -- ST_Intersects(bbox, ST_MakeBBOX(0,0,1,1))\nFROM t"
    assert rewrite_spatial_predicates(com) == com
    both = lit + " FROM t /* st_within(bbox, st_makeBBOX(0,0,1,1)) */ " \
        "WHERE st_intersects(bbox, st_makeBBOX(0,0,1,1))"
    assert rewrite_spatial_predicates(both) == (
        lit + " FROM t /* st_within(bbox, st_makeBBOX(0,0,1,1)) */ WHERE "
        "(bbox.xmin <= 1 AND bbox.xmax >= 0 AND bbox.ymin <= 1 AND bbox.ymax >= 0)")
    join = ("SELECT 'FROM a x JOIN b y ON st_intersects(x.g, y.g)' AS s FROM t "
            "-- FROM a x JOIN b y ON st_intersects(x.g, y.g)")
    assert rewrite_spatial_join(join) == join



# every recognized predicate shape with the exact text it becomes, and the
# shapes that stay as written; bbox is the extent column
_PIN_SHAPES = (
    ('st_intersects(bbox, st_makeBBOX(1, 2, 3, 4))',
     '(bbox.xmin <= 3 AND bbox.xmax >= 1 AND bbox.ymin <= 4 AND bbox.ymax >= 2)'),
    ('st_intersects(st_makeBBOX(1, 2, 3, 4), bbox)',
     '(bbox.xmin <= 3 AND bbox.xmax >= 1 AND bbox.ymin <= 4 AND bbox.ymax >= 2)'),
    ('st_intersects(bbox, st_makePoint(1, 2))',
     '(bbox.xmin <= 1 AND bbox.xmax >= 1 AND bbox.ymin <= 2 AND bbox.ymax >= 2)'),
    ('st_intersects(st_makePoint(1, 2), bbox)',
     '(bbox.xmin <= 1 AND bbox.xmax >= 1 AND bbox.ymin <= 2 AND bbox.ymax >= 2)'),
    ("st_intersects(bbox, st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))'))",
     "((bbox.xmin <= 4.0 AND bbox.xmax >= 0.0 AND bbox.ymin <= 4.0 AND bbox.ymax >= 0.0) AND st_intersects(bbox, st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))')))"),
    ("st_intersects(st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))'), bbox)",
     "((bbox.xmin <= 4.0 AND bbox.xmax >= 0.0 AND bbox.ymin <= 4.0 AND bbox.ymax >= 0.0) AND st_intersects(st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))'), bbox))"),
    ('st_intersects(bbox, st_extentFromGeom(st_makePoint(1, 2)))',
     '(bbox.xmin <= 1 AND bbox.xmax >= 1 AND bbox.ymin <= 2 AND bbox.ymax >= 2)'),
    ('st_intersects(st_extentFromGeom(st_makePoint(1, 2)), bbox)',
     '(bbox.xmin <= 1 AND bbox.xmax >= 1 AND bbox.ymin <= 2 AND bbox.ymax >= 2)'),
    ("st_intersects(bbox, st_extentFromGeom(st_geomFromWKT('LINESTRING (0 1, 3 5)')))",
     '(bbox.xmin <= 3.0 AND bbox.xmax >= 0.0 AND bbox.ymin <= 5.0 AND bbox.ymax >= 1.0)'),
    ("st_intersects(st_extentFromGeom(st_geomFromWKT('LINESTRING (0 1, 3 5)')), bbox)",
     '(bbox.xmin <= 3.0 AND bbox.xmax >= 0.0 AND bbox.ymin <= 5.0 AND bbox.ymax >= 1.0)'),
    ('st_contains(bbox, st_makeBBOX(1, 2, 3, 4))',
     '(bbox.xmin <= 1 AND bbox.ymin <= 2 AND bbox.xmax >= 3 AND bbox.ymax >= 4)'),
    ('st_contains(st_makeBBOX(1, 2, 3, 4), bbox)',
     '(bbox.xmin >= 1 AND bbox.xmax <= 3 AND bbox.ymin >= 2 AND bbox.ymax <= 4)'),
    ('st_contains(bbox, st_makePoint(1, 2))',
     '((bbox.xmin <= 1 AND bbox.ymin <= 2 AND bbox.xmax >= 1 AND bbox.ymax >= 2) AND st_contains(bbox, st_makePoint(1, 2)))'),
    ('st_contains(st_makePoint(1, 2), bbox)',
     '((bbox.xmin >= 1 AND bbox.xmax <= 1 AND bbox.ymin >= 2 AND bbox.ymax <= 2) AND st_contains(st_makePoint(1, 2), bbox))'),
    ("st_contains(bbox, st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))'))",
     "((bbox.xmin <= 0.0 AND bbox.ymin <= 0.0 AND bbox.xmax >= 4.0 AND bbox.ymax >= 4.0) AND st_contains(bbox, st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))')))"),
    ("st_contains(st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))'), bbox)",
     "((bbox.xmin >= 0.0 AND bbox.xmax <= 4.0 AND bbox.ymin >= 0.0 AND bbox.ymax <= 4.0) AND st_contains(st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))'), bbox))"),
    ('st_contains(bbox, st_extentFromGeom(st_makePoint(1, 2)))',
     '(bbox.xmin <= 1 AND bbox.ymin <= 2 AND bbox.xmax >= 1 AND bbox.ymax >= 2)'),
    ('st_contains(st_extentFromGeom(st_makePoint(1, 2)), bbox)',
     '(bbox.xmin >= 1 AND bbox.xmax <= 1 AND bbox.ymin >= 2 AND bbox.ymax <= 2)'),
    ("st_contains(bbox, st_extentFromGeom(st_geomFromWKT('LINESTRING (0 1, 3 5)')))",
     '(bbox.xmin <= 0.0 AND bbox.ymin <= 1.0 AND bbox.xmax >= 3.0 AND bbox.ymax >= 5.0)'),
    ("st_contains(st_extentFromGeom(st_geomFromWKT('LINESTRING (0 1, 3 5)')), bbox)",
     '(bbox.xmin >= 0.0 AND bbox.xmax <= 3.0 AND bbox.ymin >= 1.0 AND bbox.ymax <= 5.0)'),
    ('st_within(bbox, st_makeBBOX(1, 2, 3, 4))',
     '(bbox.xmin >= 1 AND bbox.xmax <= 3 AND bbox.ymin >= 2 AND bbox.ymax <= 4)'),
    ('st_within(st_makeBBOX(1, 2, 3, 4), bbox)',
     '(bbox.xmin <= 1 AND bbox.ymin <= 2 AND bbox.xmax >= 3 AND bbox.ymax >= 4)'),
    ('st_within(bbox, st_makePoint(1, 2))',
     '((bbox.xmin >= 1 AND bbox.xmax <= 1 AND bbox.ymin >= 2 AND bbox.ymax <= 2) AND st_within(bbox, st_makePoint(1, 2)))'),
    ('st_within(st_makePoint(1, 2), bbox)',
     '((bbox.xmin <= 1 AND bbox.ymin <= 2 AND bbox.xmax >= 1 AND bbox.ymax >= 2) AND st_within(st_makePoint(1, 2), bbox))'),
    ("st_within(bbox, st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))'))",
     "((bbox.xmin >= 0.0 AND bbox.xmax <= 4.0 AND bbox.ymin >= 0.0 AND bbox.ymax <= 4.0) AND st_within(bbox, st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))')))"),
    ("st_within(st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))'), bbox)",
     "((bbox.xmin <= 0.0 AND bbox.ymin <= 0.0 AND bbox.xmax >= 4.0 AND bbox.ymax >= 4.0) AND st_within(st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))'), bbox))"),
    ('st_within(bbox, st_extentFromGeom(st_makePoint(1, 2)))',
     '(bbox.xmin >= 1 AND bbox.xmax <= 1 AND bbox.ymin >= 2 AND bbox.ymax <= 2)'),
    ('st_within(st_extentFromGeom(st_makePoint(1, 2)), bbox)',
     '(bbox.xmin <= 1 AND bbox.ymin <= 2 AND bbox.xmax >= 1 AND bbox.ymax >= 2)'),
    ("st_within(bbox, st_extentFromGeom(st_geomFromWKT('LINESTRING (0 1, 3 5)')))",
     '(bbox.xmin >= 0.0 AND bbox.xmax <= 3.0 AND bbox.ymin >= 1.0 AND bbox.ymax <= 5.0)'),
    ("st_within(st_extentFromGeom(st_geomFromWKT('LINESTRING (0 1, 3 5)')), bbox)",
     '(bbox.xmin <= 0.0 AND bbox.ymin <= 1.0 AND bbox.xmax >= 3.0 AND bbox.ymax >= 5.0)'),
    ('st_dwithin(bbox, st_makePoint(1, 2), 0.5)',
     '((bbox.xmin <= 1.5 AND bbox.xmax >= 0.5 AND bbox.ymin <= 2.5 AND bbox.ymax >= 1.5) AND st_dwithin(bbox, st_makePoint(1, 2), 0.5))'),
    ('st_dwithin(st_makePoint(1, 2), bbox, 0.5)',
     '((bbox.xmin <= 1.5 AND bbox.xmax >= 0.5 AND bbox.ymin <= 2.5 AND bbox.ymax >= 1.5) AND st_dwithin(st_makePoint(1, 2), bbox, 0.5))'),
    ('st_dwithin(bbox, st_makeBBOX(1, 2, 3, 4), 0.5)',
     '((bbox.xmin <= 3.5 AND bbox.xmax >= 0.5 AND bbox.ymin <= 4.5 AND bbox.ymax >= 1.5) AND st_dwithin(bbox, st_makeBBOX(1, 2, 3, 4), 0.5))'),
    ('st_dwithin(st_makeBBOX(1, 2, 3, 4), bbox, 0.5)',
     '((bbox.xmin <= 3.5 AND bbox.xmax >= 0.5 AND bbox.ymin <= 4.5 AND bbox.ymax >= 1.5) AND st_dwithin(st_makeBBOX(1, 2, 3, 4), bbox, 0.5))'),
    ("st_dwithin(bbox, st_geomFromWKT('POINT (3 1)'), 0.5)",
     "((bbox.xmin <= 3.5 AND bbox.xmax >= 2.5 AND bbox.ymin <= 1.5 AND bbox.ymax >= 0.5) AND st_dwithin(bbox, st_geomFromWKT('POINT (3 1)'), 0.5))"),
    ("st_dwithin(st_geomFromWKT('POINT (3 1)'), bbox, 0.5)",
     "((bbox.xmin <= 3.5 AND bbox.xmax >= 2.5 AND bbox.ymin <= 1.5 AND bbox.ymax >= 0.5) AND st_dwithin(st_geomFromWKT('POINT (3 1)'), bbox, 0.5))"),
)
_PIN_UNTOUCHED = (
    "st_dwithin(bbox, st_makePoint(1, 2), -1)",                      # negative d
    "st_intersects(bbox, st_geomFromWKT('NOPE'))",                   # WKT does not parse
    "st_dwithin(bbox, st_extentFromGeom(st_makePoint(1, 2)), 1)",    # extent under dwithin
    "st_intersects(f(bbox), st_makeBBOX(1, 2, 3, 4))",               # not an identifier
    "st_intersects(bbox, st_makePoint(1, 2, 3))",                    # 3-argument point
    "st_intersects(bbox, st_geomFromWKT('POINT EMPTY'))",            # NaN bounds
    "st_dwithin(bbox, st_makePoint(0, 0), 1e400)",                   # infinite d
)


def test_predicate_rewrite_pins_every_shape():
    """Each literal kind in both argument orders under intersects,
    contains and within, dwithin over a point, a box and WKT, and the
    fall-throughs, all as exact text; a typer that finds the column is
    no extent leaves every one as written."""
    from geomesa_hive_spark.operators.spatial_sql import _rewrite_predicates

    for sql, want in _PIN_SHAPES:
        assert rewrite_spatial_predicates(sql) == want, sql
    for sql in _PIN_UNTOUCHED:
        assert rewrite_spatial_predicates(sql) == sql, sql
    for sql in [s for s, _ in _PIN_SHAPES] + list(_PIN_UNTOUCHED):
        assert _rewrite_predicates(sql, lambda col: False) == sql, sql


_SPAN_PREDS = (
    "st_intersects(bbox, st_makeBBOX(0, 0, 1, 1))",
    "ST_Within(t.bbox, ST_MakeExtent(1.5, 2, 3, 4))",
    "st_contains(st_geomFromWKT('POLYGON ((0 0, 4 0, 0 4, 0 0))'), bbox)",
    "st_dwithin(bbox, st_makePoint(1, 2), 0.5)",
    "ST_Intersects(geom, ST_GeomFromWKT('POINT (1 1)'))",
    "st_intersects(st_makePoint(1, 2), bbox)",
    "ST_Within(bbox, st_extentFromGeom(st_makePoint(1, 2)))",
    "st_contains(bbox, st_extentFromGeom(st_geomFromWKT('POINT (3 1)')))",
    "st_dwithin(bbox, st_makeBBOX(0, 0, 1, 1), 0.25)",
    "st_dwithin(st_geomFromWKT('POINT (1 1)'), t.bbox, 2)",
)


def _span_items(p):
    """Select items holding predicate text ``p``: real calls (bare and
    under CASE) and the same text inside literals, a quoted identifier
    and comments."""
    return [
        f"{p} AS r",
        f"CASE WHEN {p} THEN 1 ELSE 0 END AS c",
        "'it''s {}' AS s".format(p.replace("'", "''")),
        "'it\\'s {}' AS s".format(p.replace("'", "\\'")),
        f'"{p}" AS s',
        f"1 AS `{p}`",
        f"1 /* {p} /* {p} */ {p} */ AS k",
        f"1 -- {p}\n AS l",
    ]


def _catalyst_calls(spark, sql, names):
    """(start, stop) of every call to one of ``names`` in Spark's own
    parse of ``sql``: the oracle for which spans are real calls."""
    seq = lambda s: [s.apply(i) for i in range(s.size())]  # noqa: E731
    plan_cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.plans.logical.LogicalPlan")
    out, stack = [], [spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)]
    while stack:
        n = stack.pop()
        if plan_cls.isInstance(n):
            stack += seq(n.expressions())
        elif n.nodeName() == "UnresolvedFunction" and n.nameParts().last().lower() in names:
            out.append((n.origin().startIndex().get(), n.origin().stopIndex().get()))
        stack += seq(n.children())
    return sorted(out)


def test_rewrite_spans_match_the_catalyst_parser(spark):
    """Differential test against Spark's parser: over generated queries
    with the predicates inside literals, comments, quoted identifiers
    and CASE, the rewrite changes exactly the spans the parser reports
    as calls, each as that call alone would be rewritten."""
    import random

    rng = random.Random(7)
    names = {"st_intersects", "st_within", "st_contains", "st_dwithin"}
    conds = ["{p}", "NOT {p}", "id = 1 /* {p} */", "name <> '{q}'", "{p} OR id = 2 -- {p}"]
    for _ in range(40):
        items = [rng.choice(_span_items(rng.choice(_SPAN_PREDS))) for _ in range(3)]
        p = rng.choice(_SPAN_PREDS)
        cond = rng.choice(conds).format(p=p, q=p.replace("'", "''"))
        sql = f"SELECT {', '.join(items)} FROM t WHERE {cond}"
        spans = _catalyst_calls(spark, sql, names)
        want, pos = [], 0
        for a, b in spans:
            call = sql[a:b + 1]
            assert rewrite_spatial_predicates(call) != call, call
            want += [sql[pos:a], rewrite_spatial_predicates(call)]
            pos = b + 1
        want.append(sql[pos:])
        assert rewrite_spatial_predicates(sql) == "".join(want), sql


class _Catalog:
    """A session whose catalog knows a few schemas, and no ``sql``."""

    def __init__(self, **schemas):
        self.schemas = schemas

    def table(self, name):
        from types import SimpleNamespace

        return SimpleNamespace(schema=self.schemas[name.strip("`").lower()])


def test_typed_rewrite_reads_column_types_from_the_catalog():
    """The typed rewrite rewrites extent-struct columns only, leaves a
    binary geometry's predicate as it is, folds parseable WKT literals to
    WKB and keeps the untyped rewrite for columns it cannot type."""
    from pyspark.sql import types as T

    from geomesa_hive_spark.functions.st import EXTENT_TYPE
    from geomesa_hive_spark.geom import from_wkt, to_wkb
    from geomesa_hive_spark.operators.spatial_sql import _column_types, _rewrite

    pts = T.StructType([T.StructField("bbox", EXTENT_TYPE), T.StructField("geom", T.BinaryType())])
    other = T.StructType([T.StructField("bbox", T.BinaryType())])
    cat = _Catalog(pts=pts, other=other)

    kinds, _ = _column_types(cat, "WITH c AS (SELECT 1) SELECT * FROM pts p JOIN other o ON 1 = 1, c, missing")
    assert [kinds(c) for c in ("p.bbox", "p.geom", "o.bbox", "bbox", "c.bbox", "missing.x", "p.nope")] == \
        [True, False, False, None, None, None, None]

    w = "POLYGON ((0 0, 4 0, 0 4, 0 0))"
    hexw = to_wkb(from_wkt(w)).hex().upper()
    sql = (f"SELECT count(*) FROM pts WHERE ST_Intersects(bbox, ST_GeomFromWKT('{w}')) "
           f"AND ST_Intersects(geom, ST_GeomFromWKT('{w}')) AND st_within(geom, st_makeBBOX(0, 0, 1, 1))")
    assert _rewrite(cat, sql) == (
        "SELECT count(*) FROM pts WHERE ((bbox.xmin <= 4.0 AND bbox.xmax >= 0.0 AND bbox.ymin <= 4.0 "
        f"AND bbox.ymax >= 0.0) AND ST_Intersects(bbox, X'{hexw}')) "
        f"AND ST_Intersects(geom, X'{hexw}') AND st_within(geom, st_makeBBOX(0, 0, 1, 1))")
    # a literal that does not parse, or one inside a string, stays
    bad = "SELECT 'st_geomFromWKT(''POINT (1 1)'')' FROM pts WHERE st_intersects(geom, st_geomFromWKT('NOPE'))"
    assert _rewrite(cat, bad) == bad
    # a CTE's column cannot be typed: today's untyped rewrite
    cte = "WITH c AS (SELECT geom AS g FROM pts) SELECT * FROM c WHERE st_intersects(g, st_makeBBOX(0, 0, 1, 1))"
    assert _rewrite(cat, cte) == rewrite_spatial_predicates(cte) != cte


def _pushed_filters(df) -> str:
    """The PushedFilters of ``df``'s one Parquet scan, untruncated."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    scans = [n for n in scans if n.nodeName().startswith("Scan parquet")]
    assert len(scans) == 1
    return scans[0].metadata().get("PushedFilters").get()


def test_spatial_sql_geom_shape_analyzes_once_with_pushdown(spark, tmp_path, monkeypatch):
    """The benchmark's query shape, ST_Intersects(bbox, W) AND
    ST_Intersects(geom, W), on a Parquet points table: Spark gets one
    query, whose binary geom predicate is left as written, whose bbox
    comparisons reach the scan's PushedFilters, and whose plan has no
    st_geomFromWKT call; the answer is the raw query's."""
    df = _grid(spark)
    path = str(tmp_path / "grid_pq_typed")
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("sql_grid_typed")
    w = "ST_GeomFromWKT('POLYGON ((2.5 2.5, 6.5 3.5, 5.5 5.5, 2.5 6.5, 2.5 2.5))')"
    sql = (f"SELECT count(*) AS n, sum(id) AS s FROM sql_grid_typed "
           f"WHERE ST_Intersects(bbox, {w}) AND ST_Intersects(geom, {w})")

    seen, run = [], spark.sql

    def counting(text, *args, **kwargs):
        seen.append(text)
        return run(text, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", counting)
    out = spatial_sql(spark, sql)
    monkeypatch.undo()
    assert len(seen) == 1
    assert re.search(r"\) AND ST_Intersects\(geom, X'[0-9A-F]+'\)$", seen[0])
    assert "geom.xmin" not in seen[0] and "bbox.xmin <= 6.5" in seen[0]
    pushed = _pushed_filters(out)
    assert all(f"{c}(bbox.{f}," in pushed for c, f in (
        ("LessThanOrEqual", "xmin"), ("GreaterThanOrEqual", "xmax"),
        ("LessThanOrEqual", "ymin"), ("GreaterThanOrEqual", "ymax")))
    assert "st_geomfromwkt" not in out._jdf.queryExecution().executedPlan().toString().lower()
    assert out.collect() == spark.sql(sql).collect()
    assert out.collect()[0].n > 0


def test_spatial_sql_non_finite_literal_keeps_the_other_pushdown(spark, tmp_path):
    """An empty geometry literal has NaN bounds: its call stays as
    written, so the rewritten text still analyzes and the other term's
    bbox comparisons still reach the scan's PushedFilters."""
    _grid(spark).write.mode("overwrite").parquet(str(tmp_path / "grid_pq_empty"))
    spark.read.parquet(str(tmp_path / "grid_pq_empty")).createOrReplaceTempView("sql_grid_empty")
    sql = ("SELECT count(*) AS n FROM sql_grid_empty WHERE st_intersects(bbox, st_makeBBOX(2.5, 2.5, 5.5, 5.5)) "
           "AND st_intersects(bbox, st_geomFromWKT('POINT EMPTY'))")
    out = spatial_sql(spark, sql)
    pushed = _pushed_filters(out)
    assert all(f"{c}(bbox.{f},5.5)" in pushed for c, f in (("LessThanOrEqual", "xmin"), ("LessThanOrEqual", "ymin")))
    assert all(f"{c}(bbox.{f},2.5)" in pushed for c, f in (("GreaterThanOrEqual", "xmax"), ("GreaterThanOrEqual", "ymax")))
    assert out.collect() == spark.sql(sql).collect()


def test_spatial_sql_untyped_cte_column_still_falls_back(spark, capfd, caplog):
    """A CTE's column cannot be typed from the catalog, so it gets the
    untyped rewrite; when that column is a binary geometry the rewritten
    text fails analysis and the untouched query answers — the one case
    the fallback is kept for. The handled failure logs one WARNING that
    names the error condition, and no JVM stack reaches stderr."""
    import logging

    from geomesa_hive_spark.operators.spatial_sql import _rewrite

    _grid(spark)
    raw = ("WITH c AS (SELECT id, geom AS g FROM sql_grid) SELECT id FROM c "
           "WHERE st_intersects(g, st_makeBBOX(2.5, 2.5, 5.5, 5.5)) ORDER BY id")
    assert "g.xmin" in _rewrite(spark, raw)

    class Keep(logging.Handler):
        def emit(self, record):
            kept.append(record)

    # PySpark's query-error logger writes each analysis error, with its
    # JVM stack, to the stderr it saw when it was made
    kept, keep = [], Keep()
    errors = logging.getLogger("SQLQueryContextLogger")
    errors.addHandler(keep)
    try:
        capfd.readouterr()
        with caplog.at_level(logging.WARNING):
            got = [r.id for r in spatial_sql(spark, raw).collect()]
        assert "at org.apache.spark" not in capfd.readouterr().err
        assert kept == []
        warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
        assert len(warnings) == 1 and "INVALID_EXTRACT_BASE_FIELD_TYPE" in warnings[0].getMessage()
        # a failure of the query as written still raises and logs
        with pytest.raises(Exception, match="UNRESOLVED_COLUMN"):
            spatial_sql(spark, raw.replace("SELECT id FROM c", "SELECT nope FROM c"))
        assert len(kept) == 1
    finally:
        errors.removeHandler(keep)
    assert got == [r.id for r in spark.sql(raw).collect()] and len(got) == 9
