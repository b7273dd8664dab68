"""Check every registered query (or the named ones) on Spark against its
DuckDB oracle on the same parquet: row count, sorted-column schema and
exact values.

Usage: python tools/oracle_check.py [sf_dir] [name ...]

An sf_dir that is not a directory, or unknown names, are rejected (exit
2) before a Spark session starts, so a misspelled name cannot pass by
checking nothing.
"""

from __future__ import annotations

import math
import sys
import os
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = repr(round(v, 9))
            elif v is None:
                v = "NULL"
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out)


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    if not os.path.isdir(sf_dir):
        print(f"not a directory: {sf_dir}")
        return 2

    from gravitydb_spark.registry import oracle_sql, queries

    qs, os_ = queries(), oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"not registered: {' '.join(unknown)}")
        return 2
    if only:
        qs = {name: fn for name, fn in qs.items() if name in only}

    from gravitydb_spark.session import get_spark

    # Spark's Python workers import the package too; they inherit
    # PYTHONPATH (through the JVM), not this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, (ROOT, os.environ.get("PYTHONPATH")))
    )
    spark = get_spark(app_name="oracle_check")
    con = duck_con(sf_dir)

    failures = []
    for name, fn in qs.items():
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"✗ {name}: spark error {str(e)[:300]}")
            continue
        spark_s = time.monotonic() - t0
        sql = os_.get(name)
        if sql is None:
            print(f"~ {name}: rows-only ({len(s_rows)} rows) [{spark_s:.1f}s]")
            continue
        try:
            ddf = con.sql(sql)
            d_cols = ddf.columns
            d_rows = ddf.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"✗ {name}: duckdb error {str(e)[:300]}")
            continue
        if sorted(s_cols) != sorted(d_cols):
            failures.append((name, f"schema {sorted(s_cols)} != {sorted(d_cols)}"))
            print(f"✗ {name}: schema mismatch {sorted(s_cols)} vs {sorted(d_cols)}")
            continue
        a, b = normalize(s_rows, s_cols), normalize(d_rows, d_cols)
        if len(a) != len(b):
            failures.append((name, f"rowcount {len(a)} != {len(b)}"))
            print(f"✗ {name}: rowcount {len(a)} vs {len(b)}")
            continue
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            failures.append((name, f"values differ, e.g. {diff}"))
            print(f"✗ {name}: value mismatch, e.g. {diff}")
            continue
        print(f"✓ {name} ({len(a)} rows) [{spark_s:.1f}s]")

    print(f"\n{len(failures)} failures / {len(qs)} queries checked")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
