"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload oltp_crud --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The program under test
(``gravitydb_spark``) is imported from that root; the benchmark never
edits it. Every line but the last is a human-readable report; the last
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics and writes the spans to ``--report``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("oltp_crud", "batch_analytics")
DRIVER_MEM = "3g"  # well below host RAM; the package default is 24g


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--report", default=None,
                   help="write the full result (and, traced, the spans) here as JSON;"
                        " a traced run defaults to .perfbench_out/")
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Pin the Spark session's resources and keep every file it writes
    inside the work directory."""
    # two task slots: the ops are overhead-bound, and the driver process,
    # the JVM's own threads and two Python workers then fit a 4-core host
    # without queueing for a CPU
    cpus = min(2, os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@dataclass
class Context:
    """What a workload gets: the session, its seed, a scratch directory
    inside the checkout, and the measurement hooks."""

    spark: object
    seed: int
    work: str
    tracer: object
    counters: object


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "gravitydb_spark")):
        print(f"error: no gravitydb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work) -> int:
    from harness import HostProbe, OpLog, SparkCounters, Tracer, median

    wl_mod = importlib.import_module(args.workload)
    from gravitydb_spark.session import get_spark

    host = HostProbe()
    t_setup = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    try:
        spark.range(1).count()
        session_s = time.perf_counter() - t_setup
        counters = SparkCounters(spark)
        tracer = Tracer(counters, enabled=bool(args.trace))
        ctx = Context(spark, args.seed, work, tracer, counters)
        wl = wl_mod.WORKLOAD(ctx)

        t = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t
        warm = OpLog(tracer)
        t = time.perf_counter()
        wl.warm_up(warm)
        warm_s = time.perf_counter() - t
        setup_s = session_s + build_s + warm_s

        # whole cycles, so every op kind runs and the mix is the same
        per = len(wl.cycle)
        n_ops = per * max(1, round(args.seconds * wl.ops_per_second / per))
        log = OpLog(tracer)
        tracer.phase = "timed"
        c0 = counters.read()
        t0 = time.perf_counter()
        wl.run(log, n_ops)
        timed_s = time.perf_counter() - t0
        c1 = counters.read()

        correct = warm.failed == 0 and log.failed == 0
        try:
            wl.verify()
        except Exception as e:  # a failed final check is reported, not fatal
            correct = False
            log.errors.append(f"verify: {e!r}")
        report = wl.metrics(log)
    finally:
        _stop_spark(spark)

    samples = log.all_samples()
    result = {
        "workload": args.workload, "seed": args.seed, "ops": n_ops,
        "correct": bool(correct and samples), "attempted": log.attempted,
        "failed": log.failed, "timed_s": timed_s, "host": host.finish(),
        "setup": {"session_s": session_s, "build_s": build_s, "warm_up_s": warm_s},
        "samples": {k: len(v) for k, v in log.samples.items()},
        "report": {**report, "spark_jobs": (c1["jobs"] - c0["jobs"], "count")},
        "errors": log.errors + warm.errors,
    }
    queries = log.samples.get(wl.query_class)
    if samples and queries:
        result["e2e"] = {
            "setup_s": (setup_s, "s"),
            "query_p50_ms": (median(queries) * 1e3, "ms"),
            "ops_per_s": (len(samples) / timed_s, "1/s"),
        }
    if args.trace:
        result["layer"] = _layer_metrics(tracer, session_s, c0, c1, report)
        result["spans"] = tracer.dump()
    _print(result)
    path = args.report or (os.path.join(
        ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-trace.json")
        if args.trace else None)
    if path:
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        with open(path, "w") as f:
            json.dump(result, f)
        print(f"# full result and spans written to {path}")
    metrics = result["layer"] if args.trace else result.get("e2e", {})
    wanted = PER_LAYER if args.trace else E2E
    print(json.dumps({
        "correct": result["correct"],
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                    if k in wanted},
    }))
    return 0


def _print(result: dict) -> None:
    """The human-readable report: every line starts with ``#``."""
    r = result
    print(f"# workload {r['workload']} seed {r['seed']} ops {r['attempted']} "
          f"failed {r['failed']} timed {r['timed_s']:.3f} s correct {r['correct']}")
    su = r["setup"]
    print(f"# setup: session {su['session_s']:.3f} s, build "
          f"{su['build_s']:.3f} s, warm-up {su['warm_up_s']:.3f} s")
    print(f"# host: {json.dumps(r['host'])}")
    print(f"# samples: {json.dumps(r['samples'])}")
    for section in ("e2e", "report", "layer"):
        for name, (val, unit) in sorted(r.get(section, {}).items()):
            print(f"# {section} {name} = {val:.6g} {unit}")
    for err in r["errors"]:
        print("# ERROR " + err.replace("\n", " | "))


E2E = ("setup_s", "query_p50_ms", "ops_per_s")
LAYERS = ("graph", "transaction", "changeset", "ql", "plans", "operators", "pipeline")
# the per-layer metrics of the final JSON line (BENCHMARK.json per_layer);
# every span's own time and counts are in the printed report and --report
PER_LAYER = (
    ["session.start_s", "sources.build_s", "trace.overhead_ms", "plans.execute_ms",
     "plans.extract_ms", "ql.parse_ms"]
    + [f"spark.{k}" for k in ("jobs", "tasks", "shuffle_write_bytes", "gc_ms", "storage_bytes")]
    + ["transaction.commit_bytes", "transaction.store_bytes"]
    + [f"{lay}.{k}" for lay in LAYERS if lay != "ql" for k in ("jobs", "tasks")]
)


def _layer_metrics(tracer, session_s, c0, c1, report) -> dict:
    """Per-layer metrics of the timed phase: every span name as
    ``<name>_ms`` (self time) with its jobs, tasks and shuffle bytes;
    per-layer call/job/task totals; whole-phase and per-op-class Spark
    counters; and the time the tracer itself spent reading counters."""
    setup = tracer.by_name("setup")
    out = {
        "session.start_s": (session_s, "s"),
        "sources.build_s": (sum(a["wall_s"] for name, a in setup.items()
                                if name.startswith("sources.")), "s"),
        "trace.overhead_ms": (tracer.timed_overhead_s * 1e3, "ms"),
        "spark.jobs": (c1["jobs"] - c0["jobs"], "count"),
        "spark.tasks": (c1["tasks"] - c0["tasks"], "count"),
        "spark.shuffle_write_bytes": (c1["shuffle_write_bytes"] - c0["shuffle_write_bytes"],
                                      "bytes"),
        "spark.gc_ms": (c1["gc_ms"] - c0["gc_ms"], "ms"),
        "spark.storage_bytes": (c1["storage_bytes"], "bytes"),
        "transaction.commit_bytes": (report.get("commit_bytes", (0, ""))[0], "bytes"),
        "transaction.store_bytes": (report.get("store_bytes", (0, ""))[0], "bytes"),
    }
    for lay in LAYERS:
        for k in ("calls", "jobs", "tasks"):
            out[f"{lay}.{k}"] = (0, "count")
    for span in tracer.spans:  # per op class, children included
        if span["phase"] == "timed" and span["name"].startswith("op."):
            for k in ("jobs", "tasks"):
                key = f"{span['name']}.{k}"
                out[key] = (out.get(key, (0,))[0] + span["counters"][k], "count")
    for name, a in tracer.by_name("timed").items():
        if name.startswith("op."):
            continue
        out[f"{name}_ms"] = (a["self_s"] * 1e3, "ms")
        out[f"{name}_jobs"] = (a["jobs"], "count")
        out[f"{name}_tasks"] = (a["tasks"], "count")
        out[f"{name}_shuffle_bytes"] = (a["shuffle_write_bytes"], "bytes")
        lay = name.split(".")[0]
        if lay in LAYERS:
            for k in ("calls", "jobs", "tasks"):
                out[f"{lay}.{k}"] = (out[f"{lay}.{k}"][0] + a[k], "count")
    return out


if __name__ == "__main__":
    sys.exit(main())
