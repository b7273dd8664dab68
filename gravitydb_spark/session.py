"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]``; on a real cluster the same settings apply
except driver memory / master, which deploy tooling owns. AQE is on so
skewed traversals and small post-filter frontiers re-plan at runtime
(coalesced partitions, runtime broadcast, skew-join splitting).

Sizing defaults come from the host the driver runs on: ``N`` is the
number of CPUs this process may run on, and the driver heap is half of
the memory it may use (the cgroup limit, else ``MemTotal``), leaving the
rest to the JVM's off-heap memory, the Python workers and the OS.
``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` override them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "default_cpus", "default_driver_memory"]


def default_cpus() -> int:
    """CPUs this process may run on (its affinity mask, not the host's
    CPU count)."""
    return len(os.sched_getaffinity(0))


def default_driver_memory(
    cgroup_files=(
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ),
    meminfo: str = "/proc/meminfo",
) -> str:
    """Half the memory this process may use, as a JVM size (``"8035m"``):
    the tightest cgroup limit among ``cgroup_files`` (v2 ``memory.max``,
    v1 ``memory.limit_in_bytes``) below the host's ``MemTotal``, else
    ``MemTotal``."""
    with open(meminfo) as f:
        limit = next(int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:"))
    for path in cgroup_files:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():  # v2 writes "max" for no limit
            limit = min(limit, int(raw))
    return f"{limit // 2 // 2**20}m"


def get_spark(
    app_name: str = "gravitydb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(default_cpus())
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce by size, not by core count: frontier/dimension shuffles
        # are tiny and should collapse to 1 task instead of 32
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
