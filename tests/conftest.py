import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("geomesa-hive-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # perfbench/tests reuse this session when run in the same process;
        # their tracer reads every stage of a query from the status store
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    from geomesa_hive_spark import register_all

    register_all(s)
    yield s
    s.stop()
