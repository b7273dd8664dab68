"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship query (graph traversal + revenue rollup) at
sf0.001; ``queries()`` / ``oracle_sql()`` expose every implemented
operator from SURVEY.md §2 plus the training-data-pipeline operators,
each with a DuckDB oracle, in registration order (see
gravitydb_spark/registry.py; tools/oracle_check.py checks each query
against its oracle).
"""

from __future__ import annotations

import os
import sys

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: customers in region EUROPE found by a two-hop zoe graph
    traversal (Region ← PartOf ← Nation ← LocatedIn ← Customer), joined to
    their orders for a per-nation revenue rollup."""
    from gravitydb_spark.graph_queries import _customers_in_region, tpch_graph
    from gravitydb_spark.plans.compiler import execute
    from gravitydb_spark.registry import load

    sf_dir = "/root/testdata/sf0.001"
    g = tpch_graph(spark, sf_dir)
    europe_customers = execute(g, _customers_in_region("EUROPE")).vertices

    custkeys = europe_customers.select(
        F.substring("id", 2, 100).cast("long").alias("c_custkey")
    )
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    return (
        o.join(custkeys, o.o_custkey == custkeys.c_custkey)
        .join(c, "c_custkey")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("n_name")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from gravitydb_spark.registry import queries as _queries

    return _queries()


def oracle_sql() -> dict[str, str]:
    from gravitydb_spark.registry import oracle_sql as _oracle_sql

    return _oracle_sql()
