"""r13 optimization measurement harness (guide §1: measure first).

Isolated per-query timing at a given sf_dir (fresh session, one warm-up,
df.count() as the timed action),
plus the two diagnostics the round's deliverables need:

- Spark JOB COUNT per query (each driver-synchronous job is a fixed
  ~0.05-0.3s scheduling round on this host — the IVM probe's lesson),
- `.explain("formatted")` capture to plans/r13/<name>_<suffix>.txt when
  --suffix is given (captured from the SAME DataFrame object that was
  timed, so demos with store side effects are not re-run).

Usage:
  python tools/opt_measure.py [--sf DIR] [--suffix before|after]
                              [--out FILE.json] [--noop] name [name...]

--noop times df.write.format("noop") instead of count() (guide §1.4) —
used for isolating computation cost; the recorded bench keeps count()
for cross-round comparability.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13"
)


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("names", nargs="+")
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    p.add_argument("--suffix", default=None)
    p.add_argument("--out", default=None)
    p.add_argument("--noop", action="store_true")
    p.add_argument("--plans-dir", default=PLANS_DIR)
    args = p.parse_args()
    plans_dir = args.plans_dir

    from gravitydb_spark.registry import queries
    from gravitydb_spark.session import get_spark

    qs = queries()
    spark = get_spark(app_name="opt_measure")
    sc = spark.sparkContext

    # warm-up: JVM/codegen spin-up + property-graph build
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from gravitydb_spark.graph_queries import tpch_graph

    tpch_graph(spark, args.sf).db_info()

    print(f"# loadavg_start {_loadavg()}", flush=True)
    results: dict[str, dict] = {}
    for name in args.names:
        fn = qs[name]
        sc.setJobDescription(f"opt_measure: {name}")
        ids0 = sc.statusTracker().getJobIdsForGroup()
        j0 = max(ids0) if ids0 else -1
        t0 = time.perf_counter()
        df = fn(spark, args.sf)
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
            nrows = -1
        else:
            nrows = df.count()
        wall = round(time.perf_counter() - t0, 3)
        ids1 = sc.statusTracker().getJobIdsForGroup()
        j1 = max(ids1) if ids1 else -1
        results[name] = {"wall": wall, "jobs": j1 - j0, "rows": nrows}
        print(
            f"MEASURE {name} wall={wall:.2f} jobs={j1 - j0} rows={nrows}",
            flush=True,
        )
        if args.suffix:
            os.makedirs(plans_dir, exist_ok=True)
            plan = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
        sc.setJobDescription(None)
    print(f"# loadavg_end {_loadavg()}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
