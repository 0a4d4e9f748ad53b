"""SparkSession construction with scale-appropriate defaults.

Local mode is a stand-in for a multi-executor cluster; every knob set here
is chosen so the same code runs unchanged under ``spark-submit --py-files``
on a real cluster (shuffle partitions sized to parallelism, AQE on for
runtime re-planning and skew-join mitigation, Arrow for all pandas-UDF
exchange).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: default driver heap as a share of physical RAM, and its ceiling: a
#: 16 GB request on a 15 GB host leaves the OS and the Python workers
#: nothing once the heap fills
DRIVER_MEM_FRACTION = 0.5
DRIVER_MEM_MAX_MB = 16 * 1024


def is_local_master(spark: SparkSession) -> bool:
    """True when the driver and every executor share one host (a
    ``local[...]`` master): driver-written files are then visible to
    tasks, and executor-written files to the driver. Every fast path that
    relies on that (the engine's file transport and in-driver supersteps,
    the single-scan build) checks this one predicate."""
    return spark.sparkContext.master.startswith("local")


def default_driver_memory() -> str:
    """``$SPARK_DRIVER_MEM`` if set, else DRIVER_MEM_FRACTION of physical
    RAM capped at DRIVER_MEM_MAX_MB (floor 1 GB), as a ``<n>m`` string."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    except (ValueError, OSError):
        return f"{DRIVER_MEM_MAX_MB}m"
    return f"{max(1024, min(DRIVER_MEM_MAX_MB, int(ram_mb * DRIVER_MEM_FRACTION)))}m"


def get_spark(
    app_name: str = "geminigraph_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local[] parallelism; defaults to $SPARK_GRAFT_CPUS or 32.
    shuffle_partitions: defaults to cores (never the 200 default, which
    at local scale just multiplies task-launch overhead).
    The driver heap is ``default_driver_memory()``.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cores
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
