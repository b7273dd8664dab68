"""g_lpa_maintained ball-locality probe (round 11, SCALE.md §4m).

The LocatedIn gate graph has diameter ≤ 2R, so the maintenance ball
saturates there (test_lpa_maintenance records ball == graph). This
probe runs the SAME protocol (_lpa_maintain_run) on a high-diameter
RING with LOCALIZED edge batches — the regime incremental ingest
actually lives in (new data touches a region of the graph) — and
measures the recompute balls against the graph size, plus exactness
against batch LPA run directly on the final ring.

Prints PROBE lines: per-batch (support ball, merged R-ball) vs n, and
the maintained-vs-batch mismatch count (expect 0).

Usage: python tools/lpa_ball_probe.py [n_vertices]
"""

import os
import shutil
import sys
import tempfile

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")


def main() -> None:
    from gravitydb_spark import graph_queries as gq
    from gravitydb_spark.session import get_spark
    from gravitydb_spark.streaming.microbatch import stage_batches

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    spark = get_spark(app_name="lpa_ball_probe", shuffle_partitions=8)
    work = tempfile.mkdtemp(prefix="lpa_ball_probe_")
    try:
        gp = os.path.join(work, "graph")
        ids = spark.range(n).select(
            F.format_string("v%05d", F.col("id").cast("int")).alias("id"),
            F.lit("p").alias("prop_hash"),
        )
        # one vertex batch; three LOCALIZED edge batches: the ring body
        # lands first, then two small arcs re-keyed as fresh inserts
        # (batch 1 touches vertices ~n/4, batch 2 touches ~3n/4)
        stage_batches([ids], os.path.join(gp, "vertices"))
        ring = spark.range(n).select(
            F.format_string("e%05d", F.col("id").cast("int")).alias("edge_id"),
            F.format_string("v%05d", F.col("id").cast("int")).alias("src"),
            F.format_string(
                "v%05d", ((F.col("id") + 1) % n).cast("int")
            ).alias("dst"),
            F.lit("p").alias("prop_hash"),
        )
        arc1 = ring.filter(
            (F.col("src") >= F.format_string("v%05d", F.lit(n // 4)))
            & (F.col("src") < F.format_string("v%05d", F.lit(n // 4 + 3)))
        )
        arc2 = ring.filter(
            (F.col("src") >= F.format_string("v%05d", F.lit(3 * n // 4)))
            & (F.col("src") < F.format_string("v%05d", F.lit(3 * n // 4 + 3)))
        )
        body = ring.exceptAll(arc1).exceptAll(arc2)
        # batch 3 (r12): a LOCALIZED DELETE — retract two adjacent body
        # edges near n/2 (op='d'; earlier batches land op-less and read
        # as inserts under the edge_ops schema). The repair ball must
        # stay 2R-local around the deleted edges' endpoints, and the
        # final view must equal batch LPA on the ring MINUS these edges.
        deleted = ring.filter(
            (F.col("src") >= F.format_string("v%05d", F.lit(n // 2)))
            & (F.col("src") < F.format_string("v%05d", F.lit(n // 2 + 2)))
        )
        stage_batches(
            [body, arc1, arc2, deleted.withColumn("op", F.lit("d"))],
            os.path.join(gp, "edges"),
        )

        gq._lpam_probe.clear()
        gq._lpam_probe["enabled"] = True
        out = gq._lpa_maintain_run(spark, work, gp, edge_ops=True)
        rows = {(r["id"], r["community"]) for r in out.collect()}
        ring = ring.join(
            deleted.select("edge_id"), "edge_id", "left_anti"
        ).localCheckpoint()  # the SURVIVING graph drives the batch oracle
        for bid in sorted(k for k in gq._lpam_probe if isinstance(k, int)):
            d = gq._lpam_probe[bid]
            print(
                f"PROBE ring n={n} batch {bid}: support_ball={d['ball']}"
                f" merged_ball={d['merge']}"
                f" ({100 * d['merge'] // n}% of graph)",
                flush=True,
            )

        # exactness: batch LPA (same recurrence) on the final ring
        und = ring.select("src", "dst").selectExpr(
            "src AS a", "dst AS b"
        ).unionByName(
            ring.selectExpr("dst AS a", "src AS b")
        ).localCheckpoint()
        labels = und.select(F.col("a").alias("v")).distinct().select(
            "v", F.col("v").alias("lab")
        )
        for _ in range(gq._LPA_ROUNDS):
            votes = (
                und.join(F.broadcast(labels), und.b == labels.v)
                .select(und.a.alias("v"), "lab")
                .unionByName(labels.select("v", "lab"))
            )
            labels = (
                votes.groupBy("v", "lab")
                .agg(F.count("*").alias("c"))
                .groupBy("v")
                .agg(
                    F.min(
                        F.struct((-F.col("c")).alias("nc"), F.col("lab"))
                    ).alias("top")
                )
                .select("v", F.col("top.lab").alias("lab"))
                .localCheckpoint(eager=True)
            )
        want = {(r["v"], r["lab"]) for r in labels.collect()}
        # isolated-vertex convention (_lpa_maintain_run docstring): the
        # maintained view emits community = own id for vertices with no
        # surviving edges (the delete batch isolates one ring vertex);
        # the edge-derived batch recurrence above never sees them, so
        # add them to the oracle as singletons
        edge_touching = {v for v, _ in want}
        all_ids = {r["id"] for r in ids.collect()}
        want |= {(v, v) for v in all_ids - edge_touching}
        mism = len(rows ^ want)
        print(f"PROBE ring n={n} maintained_vs_batch_mismatches: {mism}")
        print(f"PROBE ring n={n} exact: {mism == 0}")
    finally:
        gq._lpam_probe.pop("enabled", None)
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
