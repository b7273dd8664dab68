"""Every registered oracle must at least PLAN in DuckDB against the real
table schemas — a compound built from a bad member fragment (or a stray
f-string placeholder) should fail here in seconds, not at the driver's
correctness gate."""

from __future__ import annotations

import os

import duckdb

from gravitydb_spark.registry import oracle_sql

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def test_every_oracle_plans():
    # r14: EXPLAIN the ~260 oracles on a thread pool with one DuckDB
    # connection PER THREAD (cursors of a shared connection serialize on
    # its client-context lock — measured no gain; separate connections
    # run 2.1x faster: 97s -> 45s). Same checks, same failure report.
    # Motivation: the suite must fit the driver's verification window
    # (r13 VERDICT #4).
    from concurrent.futures import ThreadPoolExecutor

    items = list(oracle_sql().items())
    for name, sql in items:
        assert "{_" not in sql, f"{name}: unexpanded f-string placeholder"

    workers = 8
    shards = [items[i::workers] for i in range(workers)]

    def plan_shard(shard):
        c = duckdb.connect()
        try:
            for t in TABLES:
                c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
            out = []
            for name, sql in shard:
                try:
                    c.sql(f"EXPLAIN {sql}")
                except Exception as e:  # noqa: BLE001 — collecting all failures
                    out.append((name, str(e)[:200]))
            return out
        finally:
            c.close()

    with ThreadPoolExecutor(max_workers=workers) as pool:
        bad = dict(r for shard in pool.map(plan_shard, shards) for r in shard)
    assert not bad, f"oracles that do not plan: {bad}"


def test_registry_imports_without_spark_session():
    """queries()/oracle_sql() must be buildable in a bare interpreter —
    no module-level Column/DataFrame objects anywhere in the registry
    (the driver imports __spark_entry__ before creating its session).
    Run in a clean subprocess so this session's live SparkContext can't
    mask a regression."""
    import subprocess
    import sys

    code = (
        "from pyspark import SparkContext\n"
        "import __spark_entry__ as e\n"
        "q, o = e.queries(), e.oracle_sql()\n"
        "assert len(q) >= 117 and len(o) >= 100, (len(q), len(o))\n"
        "assert SparkContext._active_spark_context is None, 'import started a JVM'\n"
        "print('OK', len(q), len(o))\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.startswith("OK")
