"""geomesa_hive_spark — a PySpark-native spatial analytics engine.

A from-scratch reimplementation of the capabilities of azavea/hiveless
("geomesa-hive": Hive ``ST_*`` UDFs + GeoMesa spatial helpers + bbox
filter-pushdown Catalyst rules), re-expressed Spark-first:

- geometry = WKB bytes in a ``BinaryType`` column (reference: TWKB bytes,
  ``spatial/src/main/scala/com/azavea/hiveless/spatial/package.scala:35-38``)
- extent  = ``struct<xmin,ymin,xmax,ymax:double>`` (reference:
  ``spatial-index/.../StandardEncoders.scala:28-31``)
- all ``ST_*`` scalar names from the reference's
  ``spatial/sql/createUDFs.sql`` registered via ``register_all(spark)``
- bbox filter pushdown implemented at the API layer (Python cannot inject
  Catalyst rules), mirroring the observable behavior of the reference's
  ``SpatialFilterPushdownRules``, plus a SQL-text rewrite
  (``operators.spatial_sql``) for queries written against the ``ST_*`` names
- Z2-clustered Parquet/GeoParquet writes whose per-file and per-row-group
  bbox statistics make that pushdown selective (``operators.partitioning``,
  ``sources/``)
- spatial operators beyond the reference (PBSM join, DBSCAN, XZ2 index,
  density, trajectories) under ``operators/``
- beyond-paper code still awaiting retirement: the training-data
  operators under ``pipeline/`` (dedup, similarity search, text,
  sampling), the Structured Streaming extension under ``streaming/``
  and the merge-on-read lake in ``sources/{manifest,incremental,datasource}.py``.

The geometry kernel is pure Python/NumPy (this environment has no
shapely/pyproj/JTS); points and extents take fully vectorized NumPy fast
paths, general geometries fall back to per-row computation inside
Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"

import sys as _sys

if "pyspark.worker_util" in _sys.modules:  # inside a Spark Python worker
    from geomesa_hive_spark import _worker

    _worker.install()


def register_all(spark):
    """Register every ST_* SQL function on the session (lazy import so the
    geometry kernel is importable without pyspark)."""
    from geomesa_hive_spark.functions.registry import register_all as _impl

    return _impl(spark)


__all__ = ["register_all", "__version__"]
