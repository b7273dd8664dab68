"""The IVM twins end to end: each maintained view that runs on a shared
family body (rollup, join, BM25, IVFPQ, degrees) must equal its DuckDB
oracle on the tier-1 sf dir. The comparison is tools/oracle_check.py's:
its DuckDB views over the same parquet and its row normalization
(sorted columns, rounded doubles, sorted rows)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from oracle_check import duck_con, normalize  # noqa: E402

from gravitydb_spark.registry import oracle_sql, queries  # noqa: E402

TWINS = [
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
]


@pytest.fixture(scope="module")
def con(sf_dir):
    return duck_con(sf_dir)


@pytest.mark.parametrize("name", TWINS)
def test_twin_matches_oracle(spark, sf_dir, con, name):
    sdf = queries()[name](spark, sf_dir)
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
    ddf = con.sql(oracle_sql()[name])
    assert sorted(s_cols) == sorted(ddf.columns)
    assert normalize(s_rows, s_cols) == normalize(ddf.fetchall(), ddf.columns)
