"""Tests for the spatial readers and writers in ``sources.spatial_io``:
WKT CSV and GeoJSON-lines reads, the Z2-clustered Parquet window read, and
the GeoParquet 1.1 writer/reader with per-file footer pruning."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from geomesa_hive_spark import sources
from geomesa_hive_spark.functions import api as ST


def test_read_csv_wkt_roundtrip(spark, tmp_path):
    p = tmp_path / "polys.csv"
    p.write_text(
        "name,wkt\n"
        'a,"POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"\n'
        'b,"POINT (5 5)"\n'
    )
    df = sources.read_csv_wkt(spark, str(p), wkt_col="wkt")
    rows = {r["name"]: r for r in df.collect()}
    assert rows["a"]["bbox"]["xmax"] == 2.0
    assert rows["b"]["bbox"]["xmin"] == 5.0
    assert rows["a"]["geom"] is not None


def test_read_geojson_lines(spark, tmp_path):
    p = tmp_path / "geoms.jsonl"
    p.write_text(
        '{"type": "Point", "coordinates": [1.0, 2.0]}\n'
        '{"type": "Polygon", "coordinates": [[[0,0],[4,0],[4,4],[0,4],[0,0]]]}\n'
    )
    df = sources.read_geojson_lines(spark, str(p))
    got = sorted(r["bbox"]["xmax"] for r in df.collect())
    assert got == [1.0, 4.0]


def test_spatial_parquet_window_read(spark, tmp_path):
    path = str(tmp_path / "sp")
    base = spark.range(100).select(
        F.col("id"),
        ST.st_makepoint(
            (F.col("id") % 10).cast("double"), (F.col("id") / 10).cast("double")
        ).alias("geom"),
    )
    sources.write_spatial_parquet(base, path, zoom=4)
    # window covering x in [0,3], y in [0,3] → ids with x%10<=3 and id<40
    win = sources.read_spatial_parquet(spark, path, bbox=(-0.5, -0.5, 3.5, 3.5))
    ids = {r["id"] for r in win.select("id").collect()}
    expect = {i for i in range(100) if (i % 10) <= 3 and (i // 10) <= 3}
    assert ids == expect
    # bbox conjunction must reach the parquet scan as pushed filters
    plan = win._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "xmin" in plan


def test_readers_parse_each_geometry_once(spark, tmp_path):
    """The readers' bbox reads the evaluated ``geom`` column: a counting
    geometry UDF registered under the parser's name runs once per row
    (Spark's CollapseProject would otherwise chain the parse into
    ``st_extentFromGeom`` and run it twice)."""
    from pyspark.sql.functions import pandas_udf

    from geomesa_hive_spark.functions.st import SPEC

    parsed = spark.sparkContext.accumulator(0)

    def counted(name):
        inner = SPEC[name].func

        def parse(s: pd.Series) -> pd.Series:
            parsed.add(len(s))
            return inner(s)

        return pandas_udf(parse, "binary")

    csv = tmp_path / "g.csv"
    csv.write_text("wkt\n" + "".join(f'"POINT ({i} {i})"\n' for i in range(5)))
    lines = tmp_path / "g.jsonl"
    lines.write_text("".join(f'{{"type": "Point", "coordinates": [{i}, 1]}}\n' for i in range(5)))
    try:
        spark.udf.register("st_geomfromwkt", counted("st_geomfromwkt"))
        spark.udf.register("st_geomfromgeojson", counted("st_geomfromgeojson"))
        rows = sources.read_csv_wkt(spark, str(csv)).collect()
        assert sorted(r["bbox"]["xmin"] for r in rows) == [0, 1, 2, 3, 4]
        assert parsed.value == 5
        parsed.value = 0
        rows = sources.read_geojson_lines(spark, str(lines)).collect()
        assert sorted(r["bbox"]["xmin"] for r in rows) == [0, 1, 2, 3, 4]
        assert parsed.value == 5
    finally:
        spark.udf.register("st_geomfromwkt", SPEC["st_geomfromwkt"])
        spark.udf.register("st_geomfromgeojson", SPEC["st_geomfromgeojson"])


def test_spatial_parquet_window_without_bbox_column(spark, tmp_path):
    """A file with a geometry column and no extent column still filters on
    the window when ``exact`` is False; a file with neither raises."""
    import pytest as _pytest

    geom_only = str(tmp_path / "geom_only")
    spark.range(100).select(
        F.col("id"),
        ST.st_makepoint((F.col("id") % 10).cast("double"), (F.col("id") / 10).cast("double")).alias("geom"),
    ).write.parquet(geom_only)
    for exact in (True, False):
        win = sources.read_spatial_parquet(spark, geom_only, bbox=(-0.5, -0.5, 3.5, 3.5), exact=exact)
        assert {r["id"] for r in win.select("id").collect()} == {
            i for i in range(100) if (i % 10) <= 3 and (i // 10) <= 3}
    neither = str(tmp_path / "neither")
    spark.range(10).write.parquet(neither)
    with _pytest.raises(ValueError):
        sources.read_spatial_parquet(spark, neither, bbox=(0, 0, 1, 1))
    assert sources.read_spatial_parquet(spark, neither).count() == 10


def test_geoparquet_roundtrip(spark, tmp_path):
    """GeoParquet 1.1 writer/reader: every file carries spec 'geo'
    footer metadata (WKB encoding, exact per-file bbox, covering
    declaration); windowed read ≡ coordinate-range filter; per-file
    bbox is tight against that file's contents; plain parquet raises
    on geoparquet_meta; missing geometry column raises."""
    import json as _json

    import pyarrow.parquet as _pq
    import pytest as _pytest

    from pyspark.sql import functions as F

    from geomesa_hive_spark.functions.registry import register_all
    from geomesa_hive_spark.sources.spatial_io import (
        geoparquet_meta, read_geoparquet, write_geoparquet,
    )

    register_all(spark)
    n = 4000
    base = spark.range(0, n).select(
        F.col("id").alias("k"),
        (((F.col("id") * 7919) % 36000) / 100.0 - 180.0).alias("x"),
        (((F.col("id") * 4799) % 18000) / 100.0 - 90.0).alias("y"),
    )
    df = base.withColumn("geom", F.call_function("st_makepoint", "x", "y"))
    path = str(tmp_path / "gpq")
    summ = write_geoparquet(df, path, "geom", n_files=8)
    assert sum(s["n_rows"] for s in summ) == n and len(summ) == 8

    # every file: geo metadata present, per-file bbox EXACT vs contents
    for s in summ:
        sch = _pq.read_schema(s["file"])
        geo = _json.loads((sch.metadata or {})[b"geo"])
        assert geo["primary_column"] == "geom"
        gcol = geo["columns"]["geom"]
        assert gcol["encoding"] == "WKB"
        # computed from the file's rows, not declared
        assert gcol["geometry_types"] == ["Point"]
        assert gcol["covering"]["bbox"]["xmin"] == ["bbox", "xmin"]
        t = _pq.read_table(s["file"], columns=["x", "y"])
        xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
        assert gcol["bbox"] == [min(xs), min(ys), max(xs), max(ys)]
        assert s["n_rows"] == len(xs)

    m = geoparquet_meta(path)
    assert m["version"] == "1.1.0"

    # the table's claim reaches Spark, so the window read runs natively
    assert spark.read.parquet(path).schema["geom"].metadata["geo"]["geometry_types"] == ["Point"]
    win = (-60.005, 0.005, -10.005, 50.005)
    got = read_geoparquet(spark, path, bbox=win)
    assert "ArrowEvalPython" not in got._jdf.queryExecution().executedPlan().toString()
    exp = df.filter((F.col("x") >= win[0]) & (F.col("x") <= win[2])
                    & (F.col("y") >= win[1]) & (F.col("y") <= win[3]))
    assert sorted(r.k for r in got.collect()) == \
           sorted(r.k for r in exp.collect())
    assert read_geoparquet(spark, path).count() == n

    # coarse-only read (exact=False) is a superset via the covering col
    coarse = read_geoparquet(spark, path, bbox=win, exact=False)
    assert coarse.count() >= got.count()

    # spark's own reader scans the files natively
    assert spark.read.parquet(path).count() == n

    plain = str(tmp_path / "plain")
    base.write.parquet(plain)
    with _pytest.raises(ValueError, match="geo"):
        geoparquet_meta(plain)
    with _pytest.raises(ValueError, match="geometry column"):
        write_geoparquet(base, str(tmp_path / "nope"), "geom")
    # ADVICE r7: a pre-existing user 'bbox' column is refused loudly,
    # never silently replaced by the covering struct
    with _pytest.raises(ValueError, match="bbox"):
        write_geoparquet(df.withColumn("bbox", F.lit(1)),
                         str(tmp_path / "nope2"), "geom")


def test_geoparquet_file_pruning(spark, tmp_path):
    """prune_files=True cuts the file list on per-file footer bboxes:
    fewer files read, identical results; empty window reads nothing;
    a covering-free (GeoParquet-1.0-style) file without bbox is kept
    (superset cut)."""
    from pyspark.sql import functions as F

    from geomesa_hive_spark.functions.registry import register_all
    from geomesa_hive_spark.sources.spatial_io import (
        read_geoparquet, write_geoparquet,
    )

    register_all(spark)
    base = spark.range(0, 4000).select(
        F.col("id").alias("k"),
        (((F.col("id") * 7919) % 36000) / 100.0 - 180.0).alias("x"),
        (((F.col("id") * 4799) % 18000) / 100.0 - 90.0).alias("y"),
    )
    df = base.withColumn("geom", F.call_function("st_makepoint", "x", "y"))
    path = str(tmp_path / "gpqp")
    write_geoparquet(df, path, "geom", n_files=12)

    win = (-60.005, 0.005, -10.005, 50.005)
    rep = {}
    got = read_geoparquet(spark, path, bbox=win, prune_files=True,
                          prune_report=rep)
    assert 0 < rep["files_kept"] < rep["files_total"] == 12, rep
    full = read_geoparquet(spark, path, bbox=win)
    assert sorted(r.k for r in got.collect()) == \
           sorted(r.k for r in full.collect())

    rep2 = {}
    nothing = read_geoparquet(spark, path, bbox=(200.0, 95.0, 210.0, 99.0),
                              prune_files=True, prune_report=rep2)
    assert rep2["files_kept"] == 0 and nothing.count() == 0


def test_z2_writers_evaluate_once_on_bare_session(spark, tmp_path):
    """Both Z2 writers evaluate their input's columns once per row (the
    range sampler and the shuffle read one persisted evaluation), run on
    a session with no ST_* names registered, register none, and leave no
    cached data behind, after a write or a sink that raised. What the
    caller cached stays cached."""
    import pytest as _pytest
    from pyspark import StorageLevel
    from pyspark.errors import PythonException
    from pyspark.sql.functions import pandas_udf

    from geomesa_hive_spark.functions.st import SPEC
    from geomesa_hive_spark.operators.partitioning import add_z2_columns, write_spatially_partitioned
    from geomesa_hive_spark.sources.spatial_io import write_geoparquet

    s2 = spark.newSession()
    n = 2000
    make_point = SPEC["st_makepoint"].func
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())

    def counted():
        acc = spark.sparkContext.accumulator(0)

        @pandas_udf("binary")
        def geom(x: pd.Series, y: pd.Series) -> pd.Series:
            acc.add(len(x))
            return make_point(x, y)

        xy = s2.range(n).select(
            F.col("id"),
            (((F.col("id") * 7919) % 36000) / 100.0 - 180.0).alias("x"),
            (((F.col("id") * 4799) % 18000) / 100.0 - 90.0).alias("y"),
        )
        return xy.withColumn("geom", geom("x", "y")), acc

    df, acc = counted()
    summ = write_geoparquet(df, str(tmp_path / "gpq"), "geom", n_files=4)
    assert sum(s["n_rows"] for s in summ) == n
    assert acc.value == n

    df, acc = counted()
    write_spatially_partitioned(df, str(tmp_path / "z2"), "geom", num_files=4)
    assert s2.read.parquet(str(tmp_path / "z2")).count() == n
    assert acc.value == n

    assert not s2.catalog.functionExists("st_intersects")
    assert set(persisted().keys()) == before

    # the sink raises after the enrichment was cached: a file where the
    # GeoParquet directory should go
    blocked = tmp_path / "blocked"
    blocked.write_text("")
    with _pytest.raises(PythonException, match="FileExistsError"):
        write_geoparquet(counted()[0], str(blocked), "geom", n_files=4)
    assert set(persisted().keys()) == before

    # the caller's caches, of the input and of the very plan the writer
    # persists, are left as they were
    mine = counted()[0].cache()
    keyed = add_z2_columns(mine, "geom").cache()
    keyed.count()
    write_spatially_partitioned(mine, str(tmp_path / "z2c"), "geom", num_files=4)
    assert StorageLevel.NONE not in (mine.storageLevel, keyed.storageLevel)
    keyed.unpersist(blocking=True)
    mine.unpersist(blocking=True)
    assert set(persisted().keys()) == before
