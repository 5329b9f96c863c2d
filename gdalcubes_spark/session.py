"""SparkSession helper tuned for the sandbox (local[N]) but with settings that
carry to a real cluster (AQE, Arrow, sane shuffle partitioning)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# `spark.python.daemon.module` for every session that runs the engine's UDFs
# (see worker_daemon.py); a session not made by get_spark should set it too.
WORKER_DAEMON = "gdalcubes_spark.worker_daemon"


def get_spark(app: str = "gdalcubes_spark", cores: int | None = None, shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        # bucketed chunk tables (write_bucketed_table) need a warehouse +
        # metastore; keep both out of the repo/cwd
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/gdalcubes_warehouse"))
        .config("spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/gdalcubes_derby")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", WORKER_DAEMON)
        .getOrCreate()
    )
