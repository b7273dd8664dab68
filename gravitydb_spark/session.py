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

The same module owns the count-gated broadcast rule the iterative
kernels and demo queries share (``_maybe_broadcast``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = ["get_spark", "default_cpus", "default_driver_memory"]

# Broadcast build budget: 64 MiB serialized — safe on a modest 4-8 GiB
# driver/executor, far under Spark's broadcast hard cap. At ~48 B/row for
# the 2-3 narrow (BIGINT/short-string) columns the hinted frames carry,
# that is ~1.4M rows. Below the limit the hint is kept; above it the hint
# is DROPPED and the join degrades to a shuffle join co-partitioned with
# the vertex-keyed exchange.
_BCAST_BUDGET_BYTES = 64 * 2**20
_BCAST_BYTES_PER_ROW = 48
_BCAST_ROW_LIMIT = _BCAST_BUDGET_BYTES // _BCAST_BYTES_PER_ROW  # ≈1.4M


def _maybe_broadcast(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Count-gated broadcast hint for entity-count-sized frames.

    ``n_rows`` is a bound on the frame's row count that the caller
    already has in hand (an exact count of a memoized/cached parent —
    never an extra job over an uncached plan); ``None`` (no bound known)
    returns the frame unhinted. A hard ``F.broadcast`` on a vertex-sized
    frame is right at test SFs but a driver-OOM order at 100× — Spark
    attempts the build regardless of size when hinted. This helper keeps
    the hint below ``_BCAST_ROW_LIMIT`` and returns the frame unhinted
    above it, letting AQE/stats pick the join.

    Why a hint at all: a ``localCheckpoint`` scan reports its origin
    plan's size estimate, and in an iterative loop each round's joins
    multiply that estimate (an LPA-shaped loop over a 200k-row parquet
    scan: 625 KB, 213 GB, then 7.3e16 B after 0, 1 and 2 rounds on Spark
    4.1.2), so without the exact-count hint a vertex-sized side plans a
    SortMergeJoin that sorts the edge side every round (measured 1.6s vs
    1.0s per LPA round at sf0.1).

    Call-site contract: state the bound's provenance in a comment at
    every call site (which memoized count / derived config it is).
    Setting ``GRAVITYSPARK_DEBUG_BCAST=1`` turns on a test-only guard
    that counts the frame and asserts the supplied bound actually bounds
    it — the tier-1 suite runs with it on; never on in production."""
    if n_rows is None:
        return df
    if os.environ.get("GRAVITYSPARK_DEBUG_BCAST") == "1":
        actual = df.count()
        if actual > n_rows:
            # explicit raise, not `assert` — the guard must survive
            # `python -O`
            raise AssertionError(
                f"_maybe_broadcast bound violated: caller claimed <="
                f" {n_rows} rows but the frame has {actual} —"
                f" stale/wrong provenance"
            )
    return F.broadcast(df) if n_rows <= _BCAST_ROW_LIMIT else df


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
