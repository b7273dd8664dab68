"""ANN/PQ family bench-drift probe (r11 VERDICT weak item).

The r11 bench recorded ann_pq_topk/ann_ivfpq_topk/ann_pq_rerank_topk at
1.7-2.1x their r10 times in all three r11 runs, with zero code diff in
their path. Two candidate mechanisms:

 (a) hypervisor steal (the documented 2-4x band) — then an ISOLATED
     low-load run lands back at r10 levels;
 (b) session cache pressure — the r11 memo-frame population
     (_rw_corpus/_sg_pairs/_sg_emb/_trade_cc + the Bloom store work that
     precedes the family in bench order) crowds the unified pool, so the
     family's Lloyd training shuffles spill / its cached inputs evict —
     then re-timing AFTER building that population (with the family's
     own driver-side memos cleared to force retraining) reproduces the
     inflation at low load.

Usage: python tools/ann_drift_probe.py [sf_dir]   (default sf0.1)

Prints PROBE lines:
  PROBE ann_drift isolated  <name>=<sec> ...
  PROBE ann_drift heavy_pop storage_mb=<MB after population>
  PROBE ann_drift postheavy <name>=<sec> ...
  PROBE ann_drift verdict   load|cache-pressure|unexplained
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gravitydb_spark.registry import queries
from gravitydb_spark.session import get_spark

FAMILY = ["ann_pq_topk", "ann_pq_rerank_topk", "ann_ivfpq_topk"]
# r10 BENCH values for the family (the comparison target)
R10 = {"ann_pq_topk": 2.08, "ann_pq_rerank_topk": 0.90, "ann_ivfpq_topk": 4.66}
# heavy pre-/co-resident state in bench order: the r11-new memo builders
# plus the biggest cached-state families that precede the ANN slots
HEAVY = [
    "dedup_minhash_lsh",
    "dedup_minhash_cluster",
    "dedup_semantic",
    "embed_kmeans",
    "g_kcore_onion",
    "stream_dedup_index_upkeep",
    "g_random_walks",
    "g_skipgram_embed",
    "g_betweenness_sampled",
]


def _storage_mb(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() for i in infos) // 2**20)


def _time_family(spark, sf_dir, qs) -> dict[str, float]:
    out = {}
    for name in FAMILY:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).count()
        out[name] = round(time.perf_counter() - t0, 3)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    with open("/proc/loadavg") as f:
        load = f.read().split()[0]
    spark = get_spark(app_name="ann_drift_probe")
    qs = queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm

    iso = _time_family(spark, sf_dir, qs)
    print(
        f"PROBE ann_drift loadavg={load} isolated "
        + " ".join(f"{k}={v}" for k, v in iso.items()),
        flush=True,
    )

    for name in HEAVY:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).count()
        print(
            f"# heavy {name}: {round(time.perf_counter() - t0, 1)}s",
            file=sys.stderr,
            flush=True,
        )
    print(
        f"PROBE ann_drift heavy_pop storage_mb={_storage_mb(spark)}",
        flush=True,
    )

    # force the family to retrain (bench runs it exactly once per
    # session): clear_memo_cache drops ALL driver-side model memos (and
    # unpersists the memoized caches, as perfbench does before each
    # pipeline op) so post-heavy timing covers the same work the bench
    # measures. r12 ADVICE / VERDICT #4: clearing only the PQ
    # book/shortlist memos let ann_ivfpq_topk (the family's largest
    # member) skip model retraining post-heavy, understating the
    # heavy-session cost.
    from gravitydb_spark.relational_queries import clear_memo_cache

    clear_memo_cache(spark)
    post = _time_family(spark, sf_dir, qs)
    print(
        "PROBE ann_drift postheavy "
        + " ".join(f"{k}={v}" for k, v in post.items()),
        flush=True,
    )

    iso_ratio = sum(iso.values()) / sum(R10.values())
    post_ratio = sum(post.values()) / sum(iso.values())
    if iso_ratio <= 1.25 and post_ratio <= 1.25:
        verdict = "load (isolated ~= r10; heavy population adds nothing)"
    elif iso_ratio <= 1.25 < post_ratio:
        verdict = f"cache-pressure (heavy session inflates {post_ratio:.2f}x)"
    else:
        verdict = f"unexplained (isolated already {iso_ratio:.2f}x of r10)"
    print(f"PROBE ann_drift verdict {verdict}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
