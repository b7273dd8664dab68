"""IVM demo fixed-vs-data cost decomposition (r12 VERDICT #2).

The 23 IVM demos (FAMILY, the default) are the streaming views a
store maintains under inserts and deletes; at r12 the IVM/streaming
demos cost 234s of the 597s bench. Per
SCALE.md these walls are batch-count × per-batch protocol rounds
(foreachBatch scheduling, store append/compact jobs, localCheckpoints,
bucket-list collects), not data. This probe MEASURES that split the
cheap way: run each demo at sf0.001 (data ~100× smaller than sf0.1 —
the wall there is almost pure per-batch fixed protocol cost) and at
sf0.01, and difference against the recorded sf0.1 bench wall.

  fixed  ≈ wall(sf0.001)
  data   ≈ wall(sf0.1) − wall(sf0.001)   (at matched load)

Also counts Spark jobs per demo (the scheduler-round driver) via the
status tracker, since each driver-synchronous job is a fixed ~0.05-0.3s
round regardless of data.

Usage: python tools/ivm_cost_probe.py [names...]   (default: the full family)
Prints one PROBE line per (demo, sf).
"""

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too; they inherit PYTHONPATH
# (through the JVM), not this process's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (ROOT, os.environ.get("PYTHONPATH")))
)

FAMILY = [
    "stream_rollup_maintained",
    "stream_rollup_versions",
    "stream_rollup_retractions",
    "stream_join_maintained",
    "stream_join_retractions",
    "stream_bm25_index_upkeep",
    "stream_bm25_retractions",
    "stream_ivfpq_index_upkeep",
    "stream_ivfpq_retractions",
    "g_degrees_maintained",
    "g_degrees_retractions",
    "g_cc_maintained",
    "g_cc_retractions",
    "g_triangles_retractions",
    "g_lpa_maintained",
    "g_lpa_retractions",
    "stream_dedup_index_upkeep",
    "stream_dedup_retractions",
    "stream_dedup_retractions_by_id",
    "stream_knn_graph_upkeep",
    "stream_ann_index_upkeep",
    "stream_kmeans_upkeep",
    "stream_hll_upkeep",
]


def main() -> None:
    from gravitydb_spark.registry import REGISTRY, queries
    from gravitydb_spark.session import get_spark

    names = sys.argv[1:] or FAMILY
    queries()
    spark = get_spark(app_name="ivm_cost_probe", shuffle_partitions=8)
    sc = spark.sparkContext

    sfs = tuple(
        f"/root/testdata/{x}"
        for x in os.environ.get("IVM_PROBE_SFS", "sf0.001,sf0.01").split(",")
    )
    for sf in sfs:
        for name in names:
            ids0 = sc.statusTracker().getJobIdsForGroup()
            n0 = max(ids0) if ids0 else -1
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, sf).count()
            wall = time.perf_counter() - t0
            ids1 = sc.statusTracker().getJobIdsForGroup()
            n1 = max(ids1) if ids1 else -1
            print(
                f"PROBE ivm_cost {name} sf={sf.rsplit('sf',1)[1]}"
                f" wall={wall:.2f} jobs={n1 - n0}",
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
