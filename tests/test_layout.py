"""Z-order layout (operators/layout.py): measured data-skipping
evidence from real parquet footer min/max stats, plus zonemap query
invariants."""

import glob
import os

import pyarrow.parquet as pq
import pytest

from gravitydb_spark.operators.layout import write_zordered
from gravitydb_spark.registry import queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _file_spans(path: str, cols: tuple[str, str]) -> list[dict]:
    """Per-file (min, max) of each column from the parquet footers —
    exactly what a scan's file-skipping decision reads."""
    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        meta = pq.ParquetFile(f).metadata
        spans = {c: [None, None] for c in cols}
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in spans and col.statistics is not None:
                    st = col.statistics
                    mn, mx = spans[name]
                    spans[name] = [
                        st.min if mn is None else min(mn, st.min),
                        st.max if mx is None else max(mx, st.max),
                    ]
        if any(v != [None, None] for v in spans.values()):
            out.append({c: tuple(v) for c, v in spans.items()})
    return out


def _avg_span(spans: list[dict], col: str) -> float:
    return sum(s[col][1] - s[col][0] for s in spans) / len(spans)


def test_zorder_layout_bounds_both_dims(spark, sf_dir, tmp_path):
    """A z-ordered layout's per-file footer spans are tight in BOTH
    interleaved dimensions; the shuffled baseline's files each span
    nearly the full range of both. This is the file-skipping property:
    a predicate on either key can prune most z-ordered files from
    footers alone."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    n_files = 16
    zpath = str(tmp_path / "zordered")
    rpath = str(tmp_path / "shuffled")
    write_zordered(li, zpath, "l_partkey", "l_suppkey", n_files=n_files)
    # baseline: same file count, hash-shuffled (the layout a plain
    # repartition write produces)
    li.repartition(n_files).write.mode("overwrite").parquet(rpath)

    cols = ("l_partkey", "l_suppkey")
    zs = _file_spans(zpath, cols)
    rs = _file_spans(rpath, cols)
    assert len(zs) >= n_files // 2 and len(rs) >= n_files // 2

    for c in cols:
        z_span, r_span = _avg_span(zs, c), _avg_span(rs, c)
        # every file of the shuffled layout spans ~the whole key range;
        # z-ordered files must average well under half of that
        assert z_span < 0.5 * r_span, (c, z_span, r_span)

    # layout preserves the data (same rows, just reordered)
    assert (
        spark.read.parquet(zpath).count()
        == spark.read.parquet(rpath).count()
        == li.count()
    )
    a = spark.read.parquet(zpath).groupBy().sum("l_orderkey").collect()[0][0]
    b = li.groupBy().sum("l_orderkey").collect()[0][0]
    assert a == b


def test_zonemap_query_invariants(spark, sf_dir):
    """layout_zorder_zonemap: buckets partition the table (counts sum
    to the row count) and per-bucket spans of both dims are bounded
    well under the full key ranges on average."""
    rows = queries()["layout_zorder_zonemap"](spark, sf_dir).collect()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    total = li.count()
    assert sum(r.n_rows for r in rows) == total
    assert len(rows) <= 32 and len({r.bucket for r in rows}) == len(rows)
    pk_range = (
        li.agg({"l_partkey": "max"}).collect()[0][0]
        - li.agg({"l_partkey": "min"}).collect()[0][0]
    )
    avg_pk_span = sum(r.pk_max - r.pk_min for r in rows) / len(rows)
    assert avg_pk_span < 0.6 * pk_range, (avg_pk_span, pk_range)


@pytest.mark.parametrize("x,y,z", [(0, 0, 0), (1, 0, 1), (0, 1, 2), (3, 3, 15),
                                   (65535, 65535, (1 << 32) - 1)])
def test_morton_interleave_exact(spark, x, y, z):
    """The unrolled Spark SQL interleave matches the mathematical
    Morton value on known points (x in even bits, y in odd)."""
    from gravitydb_spark.operators.layout import zvalue_sql

    got = spark.sql(f"SELECT {zvalue_sql(str(x), str(y))} AS z").collect()[0].z
    assert got == z


def test_cli_zorder_verb(tmp_path):
    """The zorder CLI verb rewrites a parquet dataset z-ordered and
    prints a JSON summary; the rewrite preserves rows."""
    import json
    import subprocess
    import sys as _sys

    out = str(tmp_path / "zordered_cli")
    r = subprocess.run(
        [
            _sys.executable,
            "-m",
            "gravitydb_spark.cli",
            "zorder",
            "--src",
            "/root/testdata/sf0.001/lineitem.parquet",
            "--out",
            out,
            "--cols",
            "l_partkey,l_suppkey",
            "--files",
            "8",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["cols"] == ["l_partkey", "l_suppkey"]
    assert summary["rows"] > 0
    spans = _file_spans(out, ("l_partkey", "l_suppkey"))
    assert spans, "z-ordered output has footer stats"
