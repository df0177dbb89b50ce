"""Session registration: the PySpark equivalent of replaying
``spatial/sql/createUDFs.sql`` + ``spatial-index/sql/createUDFs.sql``
(reference: ``SpatialHiveTestEnvironment.registerHiveUDFs``,
``SpatialHiveTestEnvironment.scala:37-41``).

After ``register_all(spark)`` every ST_* name is callable from Spark SQL
(names are case-insensitive) and from the DataFrame API via
``F.call_function`` / :mod:`geomesa_hive_spark.functions.api`.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from geomesa_hive_spark.functions.st import ALIASES, SPEC, SqlFunction

__all__ = ["register_all", "registered_names"]


def registered_names() -> list[str]:
    return sorted(set(SPEC) | set(ALIASES))


def register_all(spark: SparkSession) -> list[str]:
    """Register every ST_* function on the session. Returns the names."""
    for name, entry in [*SPEC.items(), *((a, SPEC[t]) for a, t in ALIASES.items())]:
        if isinstance(entry, SqlFunction):
            spark.sql(entry.ddl(name))
        else:
            spark.udf.register(name, entry)
    # the framework's one aggregate (ST_ConvexHull.scala:24-38)
    from geomesa_hive_spark.operators.convex_hull_agg import (
        register_convex_hull_udaf, register_extent_udaf)

    register_convex_hull_udaf(spark)
    register_extent_udaf(spark)
    return registered_names() + ["st_convexhull"]
