"""Graph changefeed — Structured Streaming over the graph's storage dirs.

The reference *plans* a VCS-style sync changefeed (``Change``/``ChangeSet``
structs, compiled but unused — kv_graph_store.rs:849-865,
docs/key_value_store.adoc:528-598). The Spark-native realization: the graph
tables are append-structured parquet, so new vertex/edge batches landing in
storage ARE the change stream — ``readStream`` tails them incrementally,
and any engine aggregation can run over the feed with watermarks/windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..graph import EDGES_SCHEMA, VERTICES_SCHEMA

__all__ = ["stream_vertices", "stream_edges", "stream_type_counts"]


def stream_vertices(spark: SparkSession, graph_path: str) -> DataFrame:
    """Streaming DF of vertex rows as they are appended under
    ``<graph_path>/vertices`` (the maintained-view demos drive these
    dirs one file per trigger through ``microbatch.drive``)."""
    return spark.readStream.schema(VERTICES_SCHEMA).parquet(f"{graph_path}/vertices")


def stream_edges(spark: SparkSession, graph_path: str) -> DataFrame:
    return spark.readStream.schema(EDGES_SCHEMA).parquet(f"{graph_path}/edges")


def stream_type_counts(
    vertex_stream: DataFrame, properties: DataFrame
) -> DataFrame:
    """Running vertex counts per schema type: stream-static join of the
    vertex feed against the (static, broadcastable) property dimension —
    a continuously-maintained db_info."""
    return (
        vertex_stream.join(
            F.broadcast(properties.select("prop_hash", "schema_type")), "prop_hash"
        )
        .groupBy("schema_type")
        .agg(F.count("*").alias("n"))
    )
