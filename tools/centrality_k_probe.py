"""Sampled-centrality k-growth probe (r12, SCALE.md §4n).

The gate evals (g_harmonic_sample_eval / g_betweenness_sample_eval) pin
the PRODUCTION k = max(4, ⌊log₂ n⌋ // 4) rate against exact centrality
on the bounded slice. This probe answers the follow-up the docstrings
raise: does the top-T ranking overlap actually CONVERGE as k grows (the
Eppstein–Wang / Brandes–Pich contract), i.e. is the observed gap a
sampling-rate artifact rather than an estimator defect?

Method: the shared-chain trick at probe scale — ONE harmonic BFS from
ALL slice vertices, folded once per k (the k smallest slice customers,
k ∈ {4, 8, 16, 32, 64}) against the all-sources exact ranking; top-T
overlap per (k, T).

Usage: python tools/centrality_k_probe.py [sf_dir]   (default sf0.01)
Prints: PROBE centrality_k sf=... n=... k=<k> overlap5=x overlap10=y overlap20=z
"""

import os
import sys

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too; they inherit PYTHONPATH
# (through the JVM), not this process's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, (ROOT, os.environ.get("PYTHONPATH")))
)


def main() -> None:
    from gravitydb_spark import graph_queries as gq
    from gravitydb_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="centrality_k_probe", shuffle_partitions=8)
    und, verts, n_sub, _, _ = gq._cev_slice(spark, sf_dir)
    # one all-sources BFS level chain (the eval's shared chain)
    frontier = verts.select(F.col("v").alias("s"), "v").localCheckpoint()
    seen = frontier
    levels = []
    for L in range(1, gq._BC_UNROLL + 1):
        nxt = (
            frontier.join(und, und.a == frontier.v)
            .select("s", F.col("b").alias("v"))
            .distinct()
            .join(seen, ["s", "v"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        levels.append(nxt.withColumn("lvl", F.lit(L).cast("long")))
        seen = seen.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    from functools import reduce

    alll = reduce(lambda x, y: x.unionByName(y), levels).localCheckpoint()
    hterm = F.sum(F.expr(f"{gq._HC_SCALE} DIV lvl")).cast("long").alias("h")
    exact = alll.groupBy("v").agg(hterm).localCheckpoint()

    def topset(df, t):
        return [
            r["v"] for r in df.orderBy(F.col("h").desc(), "v").limit(t).collect()
        ]

    ex_tops = {t: set(topset(exact, t)) for t in (5, 10, 20)}
    # r13: the identity overlap above is the WRONG convergence metric on
    # this slice — the exact scores are massively TIED (measured: 212
    # distinct values over 576 vertices, rank-20 == rank-21 exactly, 24
    # vertices within 1% of the rank-20 score; the tie structure is
    # IDENTICAL at scale 10⁴ and 10⁸, so these are true rational ties
    # from identical distance multisets, not truncation). A sampled pick
    # whose exact score equals the rank-T score is not an error, so the
    # Eppstein–Wang convergence claim must be checked on VALUES: count a
    # top-T pick as a hit iff its exact score ≥ the exact rank-T score.
    ex_h = {r["v"]: r["h"] for r in exact.collect()}
    ex_sorted = sorted(ex_h.values(), reverse=True)
    thresh = {t: ex_sorted[t - 1] for t in (5, 10, 20)}
    spread20 = (ex_sorted[0] - ex_sorted[19]) / ex_sorted[19]
    near20 = sum(
        1 for h in ex_sorted if abs(h - ex_sorted[19]) <= 0.01 * ex_sorted[19]
    )
    print(
        f"PROBE centrality_k bandstats distinct={len(set(ex_h.values()))}"
        f"/{len(ex_h)} distinct_top60={len(set(ex_sorted[:60]))}"
        f" rank20_tied={ex_sorted[19] == ex_sorted[20]}"
        f" top20_rel_spread={spread20:.4f}"
        f" within1pct_of_rank20={near20}",
        flush=True,
    )
    custs = (
        verts.filter(F.col("v").startswith("c"))
        .orderBy(F.substring("v", 2, 100).cast("long"))
    )
    for k in (4, 8, 16, 32, 64):
        srcs = custs.limit(k).select(F.col("v").alias("s"))
        hs = (
            alll.join(F.broadcast(srcs), "s").groupBy("v").agg(hterm)
        )
        ovl = {}
        band = {}
        for t in (5, 10, 20):
            picks = topset(hs, t)
            ovl[t] = len(ex_tops[t] & set(picks))
            band[t] = sum(1 for v in picks if ex_h.get(v, 0) >= thresh[t])
        print(
            f"PROBE centrality_k sf={os.path.basename(sf_dir)}"
            f" n={n_sub} k={k}"
            f" overlap5={ovl[5]} overlap10={ovl[10]} overlap20={ovl[20]}"
            f" band5={band[5]} band10={band[10]} band20={band[20]}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
