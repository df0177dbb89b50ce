"""Spatial data layout for scale: Z2 keys + partitioned writes.

The reference delegates layout to the user through
``st_partitionCentroid`` (coarse Z2 cell per row → repartition/partitionBy
before writing) and ``st_z2LatLon`` (fine Z2 range) — SURVEY.md §4.2.
These helpers make that workflow one call, the part that actually
matters at 100 TB: co-located spatial data + min/max-prunable bbox
columns mean a window query touches only the row groups it must.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geomesa_hive_spark.functions.st import SPEC
from geomesa_hive_spark.operators.native_points import GEO_KEY, claim

__all__ = ["add_z2_columns", "write_spatially_partitioned"]


def add_z2_columns(
    df: DataFrame,
    geom_col: str,
    zoom: int = 6,
    bbox: bool = True,
) -> DataFrame:
    """Add ``z2`` (coarse partition key via st_partitionCentroid) and a
    prunable ``bbox`` extent struct derived from ``geom_col``.

    Calls the ``SPEC`` UDF objects rather than the session's registered
    names, so it works on a session that never ran ``register_all`` (it
    used to need one); each object pickles its function once per
    process."""
    geom = F.col(geom_col)
    out = df.withColumn("z2", SPEC["st_partitioncentroid"](geom, F.lit(zoom)))
    if bbox:
        out = out.withColumn("bbox", extent_of(geom))
    return out


def extent_of(geom: Column) -> Column:
    """``st_extentFromGeom(geom)`` for a ``geom`` column that may itself be
    a geometry UDF's output.

    Spark's CollapseProject counts a Python UDF over plain columns as
    cheap and inlines it into a one-argument Python UDF that reads its
    result, where the two chain and the inner one runs a second time per
    row (``st_geomFromWKT(wkt) AS geom`` would parse each WKT twice).
    Behind the CASE the extent UDF reads the evaluated column."""
    return SPEC["st_extentfromgeom"](F.when(geom.isNotNull(), geom))


@contextmanager
def _z2_clustered(keyed: DataFrame, key: str, num_files: int | None, *,
                  geom_col: str | None = None, path: str | None = None, mode: str = "overwrite"):
    """The one Z2 clustering step of every writer: ``repartitionByRange``
    on ``key`` then ``sortWithinPartitions``, over ``keyed`` (the
    writer's input with its Z2 key column added) persisted so the range
    sampler and the shuffle read one evaluation of its ST_* columns.

    Yields the clustered frame for the caller's sink. The cache is
    released (blocking) when the block exits, written or raised; a plan
    the caller had already cached is used as it is and left cached.

    Given the lake's ``geom_col``, ``path`` and write ``mode``, the
    yielded frame is observed: the sink's own job collects the set of
    WKB headers of ``geom_col`` (no extra Spark job), and when the sink
    returns the lake's claim is written (:func:`_record_lake`)."""
    owned = keyed.storageLevel == StorageLevel.NONE
    if owned:
        keyed = keyed.persist()
    try:
        parts = keyed.repartitionByRange(num_files, key) if num_files else keyed.repartitionByRange(key)
        clustered = parts.sortWithinPartitions(key)
        if geom_col is None:
            yield clustered
            return
        with _record_lake(path, geom_col, mode) as obs:
            yield clustered.observe(obs, F.collect_set(F.hex(F.substring(F.col(geom_col), 1, 5))).alias("codes"))
    finally:
        if owned:
            keyed.unpersist(blocking=True)


# ---------------------------------------------------------------------------
# the lake's claim: GeoParquet 1.1 geometry_types + covering, as Spark
# field metadata in a _common_metadata summary (native_points.py reads it)
# ---------------------------------------------------------------------------

_SUMMARY = "_common_metadata"
_SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"
_WKB_TYPES = ("Point", "LineString", "Polygon", "MultiPoint", "MultiLineString",
              "MultiPolygon", "GeometryCollection")


def geometry_types(headers) -> list[str] | None:
    """GeoParquet 1.1 ``geometry_types`` of a set of WKB headers (the
    hex of each geometry's first five bytes: byte order and type code),
    sorted; None when one is not a plain 2D or Z type of the seven (ISO
    +1000 or the EWKB Z flag): an M coordinate, an EWKB SRID, a
    truncated or foreign value. "Point" is then exactly the headers the
    native point path accepts."""
    out = set()
    for h in headers:
        if len(h) != 10 or h[:2] not in ("00", "01"):
            return None
        code = int.from_bytes(bytes.fromhex(h[2:]), "little" if h[:2] == "01" else "big")
        iso_z = 1000 < code < 1008
        base = (code & 0x7FFFFFFF) - 1000 * iso_z
        if not 1 <= base <= 7:
            return None
        out.add(_WKB_TYPES[base - 1] + (" Z" if iso_z or code & 0x80000000 else ""))
    return sorted(out)


def _local_dir(path: str | None) -> str | None:
    """The local file system path of ``path``; None for another scheme."""
    if path is None or "://" not in path:
        return path
    return path[len("file://"):] if path.startswith("file://") else None


def _data_files(root: str) -> list[str]:
    """The data files under ``root`` (partition directories included),
    sorted; summaries and hidden files excluded."""
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
                  if f.endswith(".parquet") and not f.startswith(("_", ".")))


def _claimed_types(root: str, geom_col: str) -> frozenset | None:
    """The geometry types ``root`` claims for ``geom_col``: empty for a
    directory with no data, None for data with no readable claim."""
    import pyarrow.parquet as pq

    if not _data_files(root):
        return frozenset()
    try:
        spark_schema = json.loads(pq.read_schema(os.path.join(root, _SUMMARY)).metadata[_SPARK_SCHEMA])
    except (OSError, KeyError, TypeError, ValueError):  # no summary, or not ours
        return None
    for f in spark_schema["fields"]:
        if f["name"] == geom_col:
            types = f.get("metadata", {}).get(GEO_KEY, {}).get("geometry_types")
            return None if types is None else frozenset(types)
    return None


def _write_claim(root: str, geom_col: str, types: list[str]) -> None:
    """Save ``root``'s ``_common_metadata``: the schema of a data file
    with ``geom_col`` claiming ``types`` and the covering ``bbox``, and
    ``bbox`` claiming ``geom_col`` back, in Spark's row metadata (the
    key ``spark.read.parquet`` takes the schema from)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    files = _data_files(root)
    if not files:
        return
    arrow = pq.read_schema(files[0])
    meta = dict(arrow.metadata or {})
    try:
        schema = (T.StructType.fromJson(json.loads(meta[_SPARK_SCHEMA])) if _SPARK_SCHEMA in meta
                  else from_arrow_schema(arrow))
    except TypeError:  # a column type Spark has no name for: no claim
        return
    marks = {geom_col: claim(types, "bbox"), "bbox": {GEO_KEY: {"covering_of": geom_col}}}
    schema = T.StructType([T.StructField(f.name, f.dataType, f.nullable, {**f.metadata, **marks.get(f.name, {})})
                           for f in schema.fields])
    meta[_SPARK_SCHEMA] = schema.json().encode()
    pq.write_metadata(arrow.with_metadata(meta), os.path.join(root, _SUMMARY))


@contextmanager
def _record_lake(path: str | None, geom_col: str, mode: str):
    """Yield an ``Observation`` for the sink of a write of ``mode`` to
    ``path``; after the sink, save the union of the claim the lake had
    and the observed types. The claim must never be narrower than the
    data, so it is removed before the sink runs: a crash in between
    leaves no claim (queries keep the UDF), and an append onto data
    without a claim, or of an unknown type, writes none. A write Spark
    skips or refuses (``ignore``/``error`` onto an existing path) and a
    non-local path record nothing."""
    obs = Observation()
    root, mode = _local_dir(path), mode.lower()
    if root is not None and mode not in ("append", "overwrite") and os.path.exists(root):
        root = None
    prior: frozenset | None = frozenset()
    if root is not None and os.path.isdir(root):
        if mode == "append":
            prior = _claimed_types(root, geom_col)
        if os.path.exists(os.path.join(root, _SUMMARY)):
            os.remove(os.path.join(root, _SUMMARY))
    yield obs
    if root is None or prior is None:
        return
    types = geometry_types(obs.get["codes"])
    if types is not None:
        _write_claim(root, geom_col, sorted(prior | set(types)))


def write_spatially_partitioned(
    df: DataFrame,
    path: str,
    geom_col: str,
    zoom: int = 6,
    mode: str = "overwrite",
    partition_dirs: bool = False,
    num_files: int | None = None,
) -> None:
    """Write parquet laid out along the Z2 curve.

    ``repartitionByRange`` on the Z2 key clusters spatially-near rows
    into the same files AND sorts within partitions, so every file/row
    group covers a compact bbox range — that's what makes the bbox
    min/max statistics selective. ``partition_dirs=True`` additionally
    writes hive-style ``z2=`` directories (coarse partition pruning;
    leave off when the key cardinality would produce small files).

    ``num_files`` pins the range-partition count. Without it AQE sizes
    partitions by bytes (~64 MB targets), which is right at scale but
    collapses small datasets into one or two files — and scan pruning
    can never skip more than (files × row groups) granules.
    """
    with _z2_clustered(add_z2_columns(df, geom_col, zoom=zoom), "z2", num_files,
                       geom_col=geom_col, path=path, mode=mode) as clustered:
        writer = clustered.write.mode(mode)
        if partition_dirs:
            writer = writer.partitionBy("z2")
        writer.parquet(path)
