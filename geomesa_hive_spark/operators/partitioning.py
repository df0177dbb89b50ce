"""Spatial data layout for scale: Z2 keys + partitioned writes.

The reference delegates layout to the user through
``st_partitionCentroid`` (coarse Z2 cell per row → repartition/partitionBy
before writing) and ``st_z2LatLon`` (fine Z2 range) — SURVEY.md §4.2.
These helpers make that workflow one call, the part that actually
matters at 100 TB: co-located spatial data + min/max-prunable bbox
columns mean a window query touches only the row groups it must.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["add_z2_columns", "write_spatially_partitioned"]


def add_z2_columns(
    df: DataFrame,
    geom_col: str,
    zoom: int = 6,
    bbox: bool = True,
) -> DataFrame:
    """Add ``z2`` (coarse partition key via st_partitionCentroid) and a
    prunable ``bbox`` extent struct derived from ``geom_col``."""
    out = df.withColumn(
        "z2", F.call_function("st_partitioncentroid", F.col(geom_col), F.lit(zoom))
    )
    if bbox:
        out = out.withColumn("bbox", F.call_function("st_extentfromgeom", F.col(geom_col)))
    return out


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
    enriched = add_z2_columns(df, geom_col, zoom=zoom)
    clustered = (
        enriched.repartitionByRange(num_files, "z2")
        if num_files
        else enriched.repartitionByRange("z2")
    ).sortWithinPartitions("z2")
    writer = clustered.write.mode(mode)
    if partition_dirs:
        writer = writer.partitionBy("z2")
    writer.parquet(path)
