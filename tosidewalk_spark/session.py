"""SparkSession factory with the engine's scale-oriented defaults.

AQE on (runtime skew-join + partition coalescing), Arrow on (pandas UDF
batches), shuffle partitions sized for the sandbox (local[32]) but
overridable for cluster runs via SPARK_GRAFT_* env vars.

The driver heap defaults to min(16g, 40 % of the host's MemTotal): a
local[N] session runs every executor inside the driver JVM, and a 16g
heap on a 15 GB host lets the JVM grow until the kernel OOM-kills it.
SPARK_GRAFT_DRIVER_MEM overrides the default verbatim.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession

DRIVER_MEM_MAX_MB = 16 * 1024
DRIVER_MEM_HOST_SHARE = 0.4


def default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """Host-fit driver heap: min(16g, 40 % of MemTotal) in megabytes, at
    least 1g, or 16g when ``meminfo`` is unreadable (non-Linux hosts)."""
    try:
        with open(meminfo) as f:
            total_kb = next(int(line.split()[1]) for line in f
                            if line.startswith("MemTotal:"))
    except (OSError, ValueError, IndexError, StopIteration):
        return f"{DRIVER_MEM_MAX_MB}m"
    share_mb = int(total_kb * DRIVER_MEM_HOST_SHARE) // 1024
    return f"{max(1024, min(DRIVER_MEM_MAX_MB, share_mb))}m"


def get_spark(app_name: str = "tosidewalk-spark", cpus: str | int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(os.environ.get(
        "SPARK_GRAFT_SHUFFLE", str(2 * max(int(cpus) if str(cpus).isdigit() else 32, 8))))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
