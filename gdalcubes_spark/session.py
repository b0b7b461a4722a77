"""SparkSession helper tuned for the sandbox (local[N]) but with settings that
carry to a real cluster (AQE, Arrow, sane shuffle partitioning)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_driver_mem() -> str:
    """Half the host's RAM, in whole GiB (at least 1g): in local mode the
    driver JVM also hosts the executors, and the Python workers need the
    other half."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 2 ** 31)}g"


def get_spark(app: str = "gdalcubes_spark", cores: int | None = None, shuffle_partitions: int | None = None) -> SparkSession:
    """A local[cores] session. cores defaults to SPARK_GRAFT_CPUS or the CPUs
    this process may run on; the driver heap to SPARK_GRAFT_DRIVER_MEM or
    half the host's RAM. One wave of a grouped chunk stage is
    defaultParallelism tasks (cube.pin_group_partitions), so the core count
    must match the host."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_mem())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        # bucketed chunk tables (write_bucketed_table) need a warehouse +
        # metastore; keep both out of the repo/cwd
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/gdalcubes_warehouse"))
        .config("spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/gdalcubes_derby")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
