"""CC-stratified source sampling probe (round 11, SCALE.md §4m).

Builds the 10×-disjoint-replica trade corpus (graph_probe.build_rep10 on
an sf0.01 base — 10 identical disconnected copies of the trade graph)
and verifies the r10 §4l caveat is closed: with CC-stratified source
derivation, sampled harmonic closeness reaches EVERY replica instead of
concentrating all k sources in the replica holding the globally smallest
custkeys.

Prints PROBE lines:
- components found by _trade_cc (expect 10)
- components holding ≥1 derived source (expect 10; pre-r11 behavior: 1)
- components with ≥1 nonzero harmonic score (expect 10)

Usage: python tools/cc_stratify_probe.py [base_sf_dir]
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
    from graph_probe import build_rep10  # noqa: E402 (same tools dir)

    from gravitydb_spark import graph_queries as gq
    from gravitydb_spark.session import get_spark

    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = "/tmp/cc_strat_rep10"
    spark = get_spark(app_name="cc_stratify_probe")
    build_rep10(spark, base, out)

    cc = gq._trade_cc(spark, out)
    n_comp = cc.select("comp").distinct().count()
    print(f"PROBE rep10 components: {n_comp}", flush=True)

    # replicate the query's source derivation to inspect coverage
    und = gq._trade_und(spark, out)
    n_verts = und.select("a").distinct().count()
    k = gq._bc_num_sources(n_verts)
    from pyspark.sql import Window

    csz = cc.groupBy("comp").agg(F.count("*").alias("nc"))
    w = Window.partitionBy("comp").orderBy("ck")
    srcs = (
        cc.filter(F.col("v").startswith("c"))
        .select("v", "comp", F.substring("v", 2, 100).cast("long").alias("ck"))
        .withColumn("rn", F.row_number().over(w))
        .join(csz, "comp")
        .filter(
            F.col("rn")
            <= F.greatest(F.lit(1), F.expr(f"({k} * nc) DIV {n_verts}"))
        )
    )
    src_comps = srcs.select("comp").distinct().count()
    n_srcs = srcs.count()
    print(
        f"PROBE rep10 k={k} sources={n_srcs}"
        f" components_with_sources: {src_comps}",
        flush=True,
    )

    hc = gq.g_harmonic_closeness(spark, out)
    reached = (
        hc.join(cc, hc.id == cc.v)
        .filter(F.col("hc_scaled") > 0)
        .select("comp")
        .distinct()
        .count()
    )
    print(f"PROBE rep10 components_reached_by_harmonic: {reached}", flush=True)
    ok = n_comp == src_comps == reached
    print(f"PROBE rep10 all_replicas_covered: {ok}", flush=True)


if __name__ == "__main__":
    main()
