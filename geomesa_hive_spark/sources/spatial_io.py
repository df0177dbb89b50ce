"""CSV/GeoJSON/Parquet sources and sinks with geometry columns.

Reference parity (all file:line in /root/reference):

- CSV with header + WKT column, geometry derived in a view:
  ``spatial/src/test/scala/com/azavea/hiveless/SpatialTestTables.scala:27-47``.
- Parquet scan whose bbox struct participates in row-group pruning:
  ``spatial-index/src/test/scala/com/azavea/hiveless/spatial/index/STIndexSpec.scala:47-83``.
- Parquet CTAS sink: ``SpatialTestTables.scala:50-59``.

Scale notes: the readers keep the window predicate as native struct
comparisons (pushed to Parquet min/max stats — ``PushedFilters`` in the
plan) and apply the exact geometry predicate only to the surviving rows;
the writer clusters along the Z2 curve so those statistics are tight.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geomesa_hive_spark.functions import api as ST
from geomesa_hive_spark.operators.partitioning import extent_of, write_spatially_partitioned
from geomesa_hive_spark.operators.pushdown import intersects_pushdown

__all__ = [
    "read_csv_wkt",
    "read_geojson_lines",
    "read_spatial_parquet",
    "write_spatial_parquet",
]


def read_csv_wkt(
    spark: SparkSession,
    path: str,
    wkt_col: str = "wkt",
    geom_col: str = "geom",
    bbox_col: str | None = "bbox",
    header: bool = True,
    **options,
) -> DataFrame:
    """CSV scan + derived binary geometry (and optional bbox extent).

    Mirrors the reference's view pattern: the raw column stays, ``geom``
    is WKB bytes parsed from WKT, ``bbox`` is the prunable extent struct.
    """
    df = spark.read.option("header", str(header).lower()).options(**options).csv(path)
    out = df.withColumn(geom_col, ST.st_geomfromwkt(F.col(wkt_col)))
    if bbox_col:
        out = out.withColumn(bbox_col, extent_of(F.col(geom_col)))
    return out


def read_geojson_lines(
    spark: SparkSession,
    path: str,
    geom_col: str = "geom",
    bbox_col: str | None = "bbox",
) -> DataFrame:
    """Newline-delimited GeoJSON geometries/features → (raw json, geom, bbox).

    The geometry parse itself is the registered ``st_geomFromGeoJson``
    pandas UDF (vectorized shapely ``from_geojson``); property extraction
    is left to ``F.get_json_object`` on the raw column so it stays native.
    """
    df = spark.read.text(path).withColumnRenamed("value", "json")
    out = df.withColumn(geom_col, ST.st_geomfromgeojson(F.col("json")))
    if bbox_col:
        out = out.withColumn(bbox_col, extent_of(F.col(geom_col)))
    return out


def read_spatial_parquet(
    spark: SparkSession,
    path: str,
    bbox: tuple[float, float, float, float] | None = None,
    bbox_col: str = "bbox",
    geom_col: str | None = "geom",
    exact: bool = True,
) -> DataFrame:
    """Parquet scan with an optional spatial window.

    When ``bbox`` is given, the window goes through
    :func:`operators.pushdown.intersects_pushdown`: the tight native bbox
    conjunction on the extent struct (pushed to Parquet row-group stats —
    the observable behavior of the reference's STIntersectsRule, SURVEY.md
    §4.1), then the exact ``st_intersects`` against a WKB window literal
    on the survivors when ``exact`` and a geometry column exists. A file
    with a geometry column and no extent column takes the exact predicate
    even when ``exact`` is False (there is nothing coarser to filter on),
    and a file with neither column raises ``ValueError``.
    """
    df = spark.read.parquet(path)
    if bbox is None:
        return df
    cols = set(df.columns)
    return intersects_pushdown(
        df,
        tuple(bbox),
        geom_col=geom_col if geom_col in cols else None,
        bbox_col=bbox_col if bbox_col in cols else None,
        exact=exact,
    )


def write_spatial_parquet(
    df: DataFrame,
    path: str,
    geom_col: str = "geom",
    zoom: int = 6,
    mode: str = "overwrite",
    partition_dirs: bool = False,
) -> None:
    """Z2-clustered Parquet sink (delegates to the partitioning operator)."""
    write_spatially_partitioned(
        df, path, geom_col, zoom=zoom, mode=mode, partition_dirs=partition_dirs
    )


# ---------------------------------------------------------------------------
# GeoParquet 1.1 — the OGC-standard interchange format for geometry-in-parquet
# ---------------------------------------------------------------------------
# What the spec requires (github.com/opengeospatial/geoparquet, v1.1.0):
# each file carries a JSON document under the footer metadata key "geo"
# naming a primary geometry column, its encoding (WKB here — the repo's
# native geometry representation), the file-level bbox, and (1.1) an
# optional "covering" declaration pointing at a per-row bbox struct column
# that readers may use for predicate pushdown. Files written here open in
# GeoPandas/GDAL/DuckDB-spatial unchanged, and their parquet is plain
# enough that Spark's reader scans it natively (Spark ignores unknown
# footer keys) — interop in both directions.
#
# Why the writer is executor-side pyarrow instead of df.write.parquet:
# Spark cannot attach custom footer metadata, and rewriting footers after
# the fact would double the I/O. Each task writes its own partition with
# pyarrow (the same executor-side Arrow-write pattern as the morlake sink,
# sources/datasource.py), computing that FILE's bbox as it goes — so the
# per-file "geo" metadata is exact, the write stays one distributed pass,
# and nothing row-sized ever reaches the driver (the collected summaries
# are one row per FILE). Z2 clustering before the write is what makes the
# per-file bboxes tight — same argument as write_spatially_partitioned.

_GEO_KEY = b"geo"
_BOUNDS = ("xmin", "ymin", "xmax", "ymax")


def write_geoparquet(
    df: DataFrame,
    path: str,
    geom_col: str = "geom",
    crs: dict | str | None = None,
    n_files: int = 16,
    zoom: int = 6,
    version: str = "1.1.0",
) -> list[dict]:
    """Write ``df`` (with a WKB binary ``geom_col``) as GeoParquet 1.1:
    Z2-clustered files, each with spec-compliant ``geo`` footer metadata
    (primary column, WKB encoding, exact per-file bbox, bbox covering
    declaration) plus a per-row ``bbox`` struct column for stats/row-group
    pushdown. Returns one summary dict per written file
    ``{file, n_rows, xmin, ymin, xmax, ymax}``.

    ``crs`` is embedded verbatim (PROJJSON per spec; omitted = spec
    default OGC:CRS84, which matches the repo's lon/lat convention).
    ``geometry_types`` is computed, never declared: each file's footer
    lists the types that file holds (``[]``, the spec's "unknown", when
    one is not a 2D or Z type), and the directory's
    ``_common_metadata`` carries the whole table's claim for Spark
    readers (``operators/partitioning.py:_record_lake``; files are
    added to the directory, so the claim is the union with what it
    held).

    Clustering is the shared Z2 step (``operators.partitioning``): the
    z2 key and bbox are evaluated once per row, and the session needs no
    ``register_all``. The writer no longer registers the ST_* surface
    as a side effect, so it also no longer replaces an ``st_*`` name
    the caller re-registered."""
    import json as _json
    import os as _os

    from geomesa_hive_spark.operators.partitioning import _z2_clustered, add_z2_columns, geometry_types

    if geom_col not in df.columns:
        raise ValueError(f"geometry column {geom_col!r} not in DataFrame")
    if "bbox" in df.columns:
        # refuse, don't silently replace: the writer emits its own
        # per-row covering struct under the spec's conventional name,
        # and quietly dropping a user column of that name is data loss
        # on round-trip (ADVICE r7)
        raise ValueError(
            "input already has a 'bbox' column; rename it — "
            "write_geoparquet emits the GeoParquet covering struct "
            "under that name"
        )
    data_cols = list(df.columns)
    crs_val = crs

    def _write_part(it):
        import uuid

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        chunks = [pdf for pdf in it if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        fx0, fy0 = float(pdf["__bx0"].min()), float(pdf["__by0"].min())
        fx1, fy1 = float(pdf["__bx1"].max()), float(pdf["__by1"].max())
        tbl = pa.Table.from_pandas(pdf[data_cols], preserve_index=False)
        bbox_struct = pa.StructArray.from_arrays(
            [
                pa.array(pdf["__bx0"], type=pa.float64()),
                pa.array(pdf["__by0"], type=pa.float64()),
                pa.array(pdf["__bx1"], type=pa.float64()),
                pa.array(pdf["__by1"], type=pa.float64()),
            ],
            names=["xmin", "ymin", "xmax", "ymax"],
        )
        tbl = tbl.append_column("bbox", bbox_struct)
        import math

        headers = {bytes(v[:5]).hex().upper() for v in pdf[geom_col] if v is not None}
        col_meta = {
            "encoding": "WKB",
            "geometry_types": geometry_types(headers) or [],
            # a file of only NULL/empty geometries has no extent — omit
            # bbox (it's optional per spec) rather than emit NaN, which
            # is not valid JSON
            **({"bbox": [fx0, fy0, fx1, fy1]}
               if not any(math.isnan(v) for v in (fx0, fy0, fx1, fy1))
               else {}),
            "covering": {
                "bbox": {
                    "xmin": ["bbox", "xmin"],
                    "ymin": ["bbox", "ymin"],
                    "xmax": ["bbox", "xmax"],
                    "ymax": ["bbox", "ymax"],
                }
            },
        }
        if crs_val is not None:
            col_meta["crs"] = crs_val
        geo = {
            "version": version,
            "primary_column": geom_col,
            "columns": {geom_col: col_meta},
        }
        meta = dict(tbl.schema.metadata or {})
        meta[_GEO_KEY] = _json.dumps(geo).encode()
        tbl = tbl.replace_schema_metadata(meta)
        _os.makedirs(path, exist_ok=True)
        fname = _os.path.join(path, f"part-{uuid.uuid4().hex}.parquet")
        pq.write_table(tbl, fname)
        yield pd.DataFrame(
            [
                {
                    "file": fname,
                    "n_rows": len(pdf),
                    "xmin": fx0,
                    "ymin": fy0,
                    "xmax": fx1,
                    "ymax": fy1,
                }
            ]
        )

    with _z2_clustered(add_z2_columns(df, geom_col, zoom=zoom), "z2", int(n_files),
                       geom_col=geom_col, path=path, mode="append") as clustered:
        summaries = clustered.select(
            *data_cols,
            F.col("bbox.xmin").alias("__bx0"),
            F.col("bbox.ymin").alias("__by0"),
            F.col("bbox.xmax").alias("__bx1"),
            F.col("bbox.ymax").alias("__by1"),
        ).mapInPandas(
            _write_part,
            schema="file string, n_rows long, xmin double, ymin double, "
                   "xmax double, ymax double",
        ).collect()
    return sorted((r.asDict() for r in summaries), key=lambda d: d["file"])


def geoparquet_meta(path: str) -> dict:
    """The parsed ``geo`` footer metadata from one file under ``path``
    (file-level bbox differs per file; the schema-level fields —
    primary column, encoding, covering — are uniform by construction)."""
    import json as _json
    import os as _os

    import pyarrow.parquet as pq

    target = path
    if _os.path.isdir(path):
        cand = sorted(
            f for f in _os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not cand:
            raise ValueError(f"no parquet files under {path}")
        target = _os.path.join(path, cand[0])
    meta = pq.read_schema(target).metadata or {}
    if _GEO_KEY not in meta:
        raise ValueError(f"{target} has no 'geo' footer metadata (not GeoParquet)")
    return _json.loads(meta[_GEO_KEY])


def read_geoparquet(
    spark: SparkSession,
    path: str,
    bbox: tuple[float, float, float, float] | None = None,
    exact: bool = True,
    prune_files: bool = False,
    prune_report: dict | None = None,
) -> DataFrame:
    """Read GeoParquet: Spark's native parquet scan (unknown footer keys
    are ignored, WKB binary comes back as BinaryType — directly usable
    by every ST_* function). With ``bbox``, the window goes through
    :func:`operators.pushdown.intersects_pushdown` with the spec's
    declared covering column (when it is one extent struct) as the
    native min/max window conjunction, pushed to parquet row-group
    stats, then the exact predicate against a WKB window literal when
    ``exact`` or when there is no such covering — natively on a points
    table that records its ``geometry_types`` (the same path as
    :func:`read_spatial_parquet`).

    ``prune_files=True`` additionally cuts the FILE LIST on the
    per-file ``geo`` bbox before Spark plans — the coarse cut that
    works on EXTERNAL GeoParquet 1.0 files, which carry the file bbox
    but no covering column (GDAL's read strategy). Opt-in because it
    costs one driver-side footer read per file (~1 ms each): right for
    up to ~10⁴ files; past that, store a manifest (the
    ``sources/manifest.py`` argument). Files lacking a bbox are kept —
    a superset cut, never wrong. ``prune_report`` (filled in place)
    records files_kept/files_total."""
    import json as _json
    import os as _os

    meta = geoparquet_meta(path)
    gcol = meta["primary_column"]
    if bbox is not None and prune_files and _os.path.isdir(path):
        import pyarrow.parquet as pq

        wx0, wy0, wx1, wy1 = bbox
        files = sorted(
            _os.path.join(path, f) for f in _os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        keep = []
        for f in files:
            md = pq.read_schema(f).metadata or {}
            fb = None
            if _GEO_KEY in md:
                g = _json.loads(md[_GEO_KEY])
                fb = g["columns"].get(g["primary_column"], {}).get("bbox")
            if fb is None or not (
                fb[2] < wx0 or fb[0] > wx1 or fb[3] < wy0 or fb[1] > wy1
            ):
                keep.append(f)
        if prune_report is not None:
            prune_report.update(files_kept=len(keep), files_total=len(files))
        if not keep:
            return spark.read.parquet(path).filter(F.lit(False))
        df = spark.read.parquet(*keep)
    else:
        df = spark.read.parquet(path)
    if bbox is None:
        return df
    # the declared covering, when it is one extent struct column
    covering = meta["columns"][gcol].get("covering", {}).get("bbox") or {}
    paths = [tuple(covering.get(c) or ()) for c in _BOUNDS]
    bbox_col = paths[0][0] if paths[0] and paths == [(paths[0][0], c) for c in _BOUNDS] else None
    return intersects_pushdown(df, tuple(bbox), geom_col=gcol,
                               bbox_col=bbox_col if bbox_col in df.columns else None, exact=exact)
