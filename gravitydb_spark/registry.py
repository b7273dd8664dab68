"""Query registry: every implemented operator from SURVEY.md §2 (plus the
training-data-pipeline operators) is registered here with

- a Spark callable ``(spark, sf_dir) -> DataFrame``
- an equivalent DuckDB oracle SQL string (or None for genuinely
  non-SQL-expressible ops, which get a weaker rows-only check)

``__spark_entry__.py`` re-exports these as ``queries()`` / ``oracle_sql()``,
in registration order; ``tools/oracle_check.py`` runs each query on Spark
and its oracle on DuckDB and compares the results.

Cross-engine parity rules (so value hashes match):
- every computed column is aliased identically on both sides
- doubles are rounded (2-4 dp) on both sides; oracle casts DuckDB HUGEINT
  sums to BIGINT and decimals to DOUBLE
- timestamps are returned as formatted strings, never raw
- fold-order-sensitive float math (dot products) uses the same left-fold
  on both sides so IEEE results are bit-identical
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

__all__ = ["REGISTRY", "register", "queries", "oracle_sql", "load"]


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]


REGISTRY: dict[str, QuerySpec] = {}

# EXPLICIT plan-guard exemptions (r8 ADVICE: an attribute, not a naming
# convention). tests/test_plans.py's global-window guard runs every
# registered query's returned plan; the queries below return a
# localCheckpoint scan or a driver-assembled literal (running them would
# re-execute a multi-batch stream or training loop for a trivially
# window-free plan), so they are skipped THERE and guarded by the tests
# evidenced HERE: each reason either cites a test file that mentions the
# query by name, or declares "oracle-e2e" (tools/oracle_check.py checks
# the full result against its batch-equivalent DuckDB oracle — requires
# the oracle to actually be registered). A new
# streaming/driver-literal operator must add its own entry — the guard
# fails on any stream_* query missing from this dict, on stale entries,
# on absent cited files, and on oracle-e2e claims without an oracle.
PLAN_EXEMPT: dict[str, str] = {
    # graph IVM (foreachBatch over DatasetStore state)
    "g_degrees_maintained": "oracle-e2e (maintained ≡ batch degrees, hash-checked); store bytes: test_store_compaction_bytes.py",
    "g_degrees_retractions": "oracle-e2e (signed fold ≡ batch degrees of the surviving graph)",
    "g_cc_maintained": "maintained-CC repair rounds: test_cc_maintenance.py",
    "g_lpa_maintained": "oracle-e2e (maintained ≡ batch LPA on the final graph, hash-checked); ball-scoped rebuild locality: test_lpa_maintenance.py",
    "g_lpa_retractions": "oracle-e2e (mixed insert/delete feed ≡ batch LPA on the surviving graph, hash-checked); signed-store delete repair: test_r12_ops.py",
    "g_cc_retractions": "delete-repair machinery: test_cc_maintenance.py (cc_labels/repair rounds); oracle-e2e",
    "g_triangles_retractions": "trilinear delta probes pruned: test_cc_maintenance.py; adjacency bytes: test_store_compaction_bytes.py",
    # round 13: incrementally maintained kNN graph (cell-local recompute)
    "stream_knn_graph_upkeep": "oracle-e2e (maintained ≡ batch ann_knn_graph, hash-checked against its oracle verbatim); epoch-fold replace semantics: test_r13_ops.py",
    # driver-literal results (bounded collect assembles the frame)
    "quality_lr_train": "result is a driver literal: test_plans.py::test_quality_lr_train_result_is_driver_literal",
    "bpe_train_merges": "oracle-e2e (unrolled merge chain); result is a bounded driver literal like bpe_sampled_apply",
    "bpe_sampled_apply": "result is a driver literal: test_plans.py::test_bpe_sampled_apply_result_is_driver_literal",
    "embed_top_direction": "oracle-e2e (distributed Gram + unrolled power iteration, hash-checked); collect is 64x64",
    "embed_kcenter_coreset": "oracle-e2e (unrolled greedy farthest-point chain); result is a k-row driver literal",
    # Structured Streaming demos (watermarked aggs / stream-static joins;
    # per-batch plans are bounded by construction, state by watermark)
    "stream_hourly_rollup": "oracle-e2e (streaming rollup ≡ batch GROUP BY, hash-checked); watermark state bounded by construction",
    "stream_rollup_maintained": "oracle-e2e; additive-store replay protocol: test_ivm_replay.py (append_once/bid_hwm)",
    "stream_rollup_retractions": "oracle-e2e; signed-fold replay protocol: test_ivm_replay.py",
    "stream_rollup_versions": "as-of versioned log: test_ivm_replay.py",
    "stream_value_outliers": "oracle-e2e (stream-static broadcast z-score ≡ batch, hash-checked)",
    "stream_view_click_join": "oracle-e2e (watermark-bounded stream-stream join ≡ batch interval join)",
    "stream_dedup_keys": "oracle-e2e (streaming dropDuplicates ≡ batch DISTINCT, hash-checked)",
    "stream_sessionize": "applyInPandasWithState gap sessions: test_stateful_streaming.py",
    "stream_incremental_dedup": "stream-static anti-join pruning: test_streaming_dedup_buckets.py",
    "stream_dedup_index_upkeep": "bucket-pruned probes: test_streaming_dedup_buckets.py; replay: test_ivm_replay.py",
    "stream_dedup_retractions": "signed band multiset: test_dedup_retractions.py; bytes: test_store_compaction_bytes.py",
    "stream_dedup_retractions_by_id": "id-only keymap retraction: test_dedup_retractions.py; keymap bytes: test_store_compaction_bytes.py",
    "stream_ann_index_upkeep": "oracle-e2e (maintained index ≡ batch ann_ivf_topk, SHARED oracle string); partition pruning probed in test_streaming_dedup_buckets.py (same DatasetStore contract)",
    "stream_ivfpq_index_upkeep": "codes store compaction: test_store_compaction_bytes.py",
    "stream_ivfpq_retractions": "tombstone fold: test_store_compaction_bytes.py",
    "stream_bm25_index_upkeep": "oracle-e2e (maintained postings ≡ batch BM25); postings bytes: test_store_compaction_bytes.py (bm25_postings family)",
    "stream_bm25_retractions": "oracle-e2e (signed postings ≡ batch BM25 of survivors); bytes: test_store_compaction_bytes.py",
    "stream_join_maintained": "two-sided join state: test_ivm_replay.py",
    "stream_join_retractions": "signed join-side folds: test_ivm_replay.py; bytes: test_store_compaction_bytes.py",
    "stream_kmeans_upkeep": "sufficient-stats store: test_store_compaction_bytes.py",
    "stream_hll_upkeep": "oracle-e2e (maintained registers ≡ direct daily HLL, hash-checked; register max is replay-idempotent)",
    "stream_audio_meta": "oracle-e2e; the WAV chunk-walk kernel itself: test_multimodal.py (batch path, same function)",
    "stream_percolate": "oracle-e2e (stateless per-row conjunction ≡ batch percolation, SHARED oracle string)",
}


def register(name: str, oracle: Optional[str] = None):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn, oracle)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
    }


def _ensure_loaded() -> None:
    """Import all modules that register queries."""
    from . import graph_queries  # noqa: F401
    from . import relational_queries  # noqa: F401
    from . import pipeline_queries  # noqa: F401
