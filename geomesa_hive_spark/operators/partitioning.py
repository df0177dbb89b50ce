"""Spatial data layout for scale: Z2 keys + partitioned writes.

The reference delegates layout to the user through
``st_partitionCentroid`` (coarse Z2 cell per row → repartition/partitionBy
before writing) and ``st_z2LatLon`` (fine Z2 range) — SURVEY.md §4.2.
These helpers make that workflow one call, the part that actually
matters at 100 TB: co-located spatial data + min/max-prunable bbox
columns mean a window query touches only the row groups it must.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geomesa_hive_spark.functions.st import SPEC

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
def _z2_clustered(keyed: DataFrame, key: str, num_files: int | None):
    """The one Z2 clustering step of every writer: ``repartitionByRange``
    on ``key`` then ``sortWithinPartitions``, over ``keyed`` (the
    writer's input with its Z2 key column added) persisted so the range
    sampler and the shuffle read one evaluation of its ST_* columns.

    Yields the clustered frame for the caller's sink. The cache is
    released (blocking) when the block exits, written or raised; a plan
    the caller had already cached is used as it is and left cached."""
    owned = keyed.storageLevel == StorageLevel.NONE
    if owned:
        keyed = keyed.persist()
    try:
        parts = keyed.repartitionByRange(num_files, key) if num_files else keyed.repartitionByRange(key)
        yield parts.sortWithinPartitions(key)
    finally:
        if owned:
            keyed.unpersist(blocking=True)


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
    with _z2_clustered(add_z2_columns(df, geom_col, zoom=zoom), "z2", num_files) as clustered:
        writer = clustered.write.mode(mode)
        if partition_dirs:
            writer = writer.partitionBy("z2")
        writer.parquet(path)
