"""SparkSession factory with scale-aware defaults.

Local test posture: one JVM, ``local[N]`` threads. Cluster posture: the same
configs are the ones that matter at 1000 executors — AQE for runtime shuffle
re-planning and skew-join splitting, Arrow for every Python<->JVM hop,
partition-size caps so a 100 TB scan yields sane tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "analyst_toolkit_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``). The
    shuffle-partition default tracks core count locally; on a real cluster AQE
    coalesces from the configured initial number, so oversizing is harmless.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    n_shuffle = "32" if cpus == "*" else str(max(int(cpus), 8))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", n_shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Other confs stay Spark defaults: r15/r16 A/B rejected parallelismFirst=false, RocksDB, zstd (OPTIMIZATION_r16.md)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # nanosecond parquet timestamps (e.g. pandas-written event streams)
        # read as long; ingest.load_table converts them to µs timestamps
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
