"""Replay idempotency of the ADDITIVE IVM stores (r6 VERDICT #1).

foreachBatch is at-least-once: a crash between a store publish and the
stream checkpoint commit re-delivers the same batch. Membership-style
deltas are inert under duplication; SUM/COUNT partials are not — a
re-appended partial would be double-counted by the key-folding
compaction, and a re-published version would shift load_version
indexes. The guard is the ``bid_hwm`` log-metadata high-water mark
behind DatasetStore.append_once / VersionedViewStore.publish_once:
the delta name and the advanced mark commit in ONE atomic log replace,
and the mark survives compaction folding the delta away.

These tests mirror test_upkeep_batch_replay_is_idempotent for the five
additive stores' handler shapes (rollup maintained / versions /
retractions, graph degrees maintained / retractions).
"""

import pytest
from pyspark.sql import functions as F

from gravitydb_spark.transaction import DatasetStore, VersionedViewStore


def _fold(df):
    return df.groupBy("k").agg(F.sum("n").cast("long").alias("n"))


def _view(spark, store):
    return {
        r["k"]: r["n"] for r in _fold(store.load(spark)).collect()
    }


def test_append_once_skips_replayed_bid(spark, tmp_path):
    store = DatasetStore(str(tmp_path / "s"))
    d0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, n long")
    assert store.append_once(d0, 0) is not None
    # replay of the SAME batch: recognized, delta not re-published
    assert store.append_once(d0, 0) is None
    assert len(store.snapshots()) == 1
    assert _view(spark, store) == {"a": 1, "b": 2}


def test_hwm_survives_compaction(spark, tmp_path):
    """The crash window that makes a per-delta tag insufficient: the
    handler appends bid 1, compaction folds the delta away, THEN the
    crash happens (before the checkpoint commit). The replay of bid 1
    must still be recognized — the mark lives in the log, not in the
    folded-away delta rows."""
    store = DatasetStore(str(tmp_path / "s"))
    store.append_once(spark.createDataFrame([("a", 1)], "k string, n long"), 0)
    store.append_once(spark.createDataFrame([("a", 5)], "k string, n long"), 1)
    assert store.compact(spark, min_deltas=2, transform=_fold)
    assert len(store.snapshots()) == 1  # deltas folded into one snapshot
    # replay of bid 1 after its delta no longer exists as a delta
    assert (
        store.append_once(
            spark.createDataFrame([("a", 5)], "k string, n long"), 1
        )
        is None
    )
    assert _view(spark, store) == {"a": 6}
    # the next REAL batch still lands
    assert store.append_once(
        spark.createDataFrame([("a", 10)], "k string, n long"), 2
    ) is not None
    assert _view(spark, store) == {"a": 16}


def test_signed_retraction_replay_does_not_double_subtract(spark, tmp_path):
    """The retraction-shaped handler: op=-1 partials net inserts away.
    A replayed retraction batch must not subtract twice (which would
    drive a fully-netted key NEGATIVE instead of zero)."""
    store = DatasetStore(str(tmp_path / "s"))

    def handle(batch_rows, bid):
        part = _fold(spark.createDataFrame(batch_rows, "k string, n long"))
        if store.append_once(part, bid) is None:
            return
        store.compact(spark, min_deltas=2, transform=_fold)

    handle([("a", 1), ("b", 1)], 0)
    handle([("a", -1)], 1)  # retraction nets a away
    handle([("a", -1)], 1)  # at-least-once replay of the retraction
    assert _view(spark, store) == {"a": 0, "b": 1}


def test_publish_once_no_duplicate_version(spark, tmp_path):
    vs = VersionedViewStore(str(tmp_path / "v"))
    v0 = spark.createDataFrame([("a", 1)], "k string, n long")
    v1 = spark.createDataFrame([("a", 3)], "k string, n long")
    assert vs.publish_once(v0, 0) is not None
    assert vs.publish_once(v0, 0) is None  # replay: no duplicate version
    assert vs.publish_once(v1, 1) is not None
    assert len(vs.versions()) == 2
    # index-addressed time travel is stable under the replay
    assert vs.load_version(spark, 0).collect()[0]["n"] == 1
    assert vs.load_version(spark, -1).collect()[0]["n"] == 3


def test_versions_crash_between_append_and_publish(spark, tmp_path):
    """stream_rollup_versions' two-store handler: delta store and
    version store gate on their OWN marks, so a crash after the delta
    append but before the version publish replays into 'skip the
    delta, still publish the pending version'."""
    store = DatasetStore(str(tmp_path / "d"))
    vs = VersionedViewStore(str(tmp_path / "v"))

    def handle(batch_rows, bid, crash_before_publish=False):
        part = _fold(spark.createDataFrame(batch_rows, "k string, n long"))
        if store.append_once(part, bid) is not None:
            store.compact(spark, min_deltas=2, transform=_fold)
        if crash_before_publish:
            return  # simulated crash window
        vs.publish_once(_fold(store.load(spark)), bid)

    handle([("a", 1)], 0)
    handle([("a", 2)], 1, crash_before_publish=True)  # crashed run
    handle([("a", 2)], 1)  # the replay
    assert _view(spark, store) == {"a": 3}  # delta applied exactly once
    assert len(vs.versions()) == 2  # exactly one version per batch
    assert vs.load_version(spark, 0).collect()[0]["n"] == 1
    assert vs.load_version(spark, 1).collect()[0]["n"] == 3


def test_meta_roundtrip_and_gc_preserves_hwm(spark, tmp_path):
    """Log metadata rides through every atomic replace: compaction
    (tested above), GC, and plain appends must all preserve bid_hwm."""
    store = DatasetStore(str(tmp_path / "s"))
    for b in range(4):
        store.append_once(
            spark.createDataFrame([("a", 1)], "k string, n long"), b
        )
    store.append(spark.createDataFrame([("z", 0)], "k string, n long"))
    store._gc_published(keep=2, grace=True)
    assert store._meta()["bid_hwm"] == "3"
    assert store.append_once(
        spark.createDataFrame([("a", 1)], "k string, n long"), 3
    ) is None


def test_bid_rejects_only_at_or_below_hwm(spark, tmp_path):
    store = DatasetStore(str(tmp_path / "s"))
    d = spark.createDataFrame([("a", 1)], "k string, n long")
    assert store.append_once(d, 5) is not None
    assert store.append_once(d, 4) is None  # below the mark
    assert store.append_once(d, 5) is None  # at the mark
    assert store.append_once(d, 6) is not None


@pytest.mark.parametrize("partitioned", [False, True])
def test_plain_append_unaffected(spark, tmp_path, partitioned):
    """append() without a bid keeps its unconditional semantics (the
    membership-style stores rely on duplication being inert, not on
    the mark), and partitioned stores accept append_once too."""
    cols = ("k",) if partitioned else ()
    store = DatasetStore(str(tmp_path / "s"), partition_cols=cols)
    d = spark.createDataFrame([("a", 1)], "k string, n long")
    store.append(d)
    store.append(d)  # duplicate delta allowed: caller owns semantics
    assert len(store.snapshots()) == 2
    assert store.append_once(d, 0) is not None
    assert store.append_once(d, 0) is None


def test_join_view_crash_between_view_and_state(spark, tmp_path):
    """stream_join_maintained's three-store handler: the view delta
    publishes FIRST (computed against pre-batch state), then the side
    states. A crash between them replays into 'skip the view, apply
    the states' — and a later batch's delta-join sees consistent
    state, so the final view equals the batch join."""
    from functools import reduce

    from pyspark.sql import functions as F

    o_store = DatasetStore(str(tmp_path / "o"))
    l_store = DatasetStore(str(tmp_path / "l"))
    view = DatasetStore(str(tmp_path / "v"))

    def fold_view(df):
        return df.groupBy("c").agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )

    def handle(orows, lrows, bid, crash_after_view=False):
        dO = spark.createDataFrame(orows or [], "okey long, c string")
        dL = spark.createDataFrame(lrows or [], "okey long, cents long")
        parts = [
            dO.join(dL, "okey").groupBy("c").agg(
                F.count("*").cast("long").alias("n"),
                F.sum("cents").cast("long").alias("cents"),
            )
        ]
        lp = l_store.load(spark)
        if lp is not None:
            parts.append(
                dO.join(lp, "okey").groupBy("c").agg(
                    F.count("*").cast("long").alias("n"),
                    F.sum("cents").cast("long").alias("cents"),
                )
            )
        op = o_store.load(spark)
        if op is not None:
            parts.append(
                dL.join(op, "okey").groupBy("c").agg(
                    F.count("*").cast("long").alias("n"),
                    F.sum("cents").cast("long").alias("cents"),
                )
            )
        view.append_once(fold_view(reduce(lambda a, b: a.unionByName(b), parts)), bid)
        if crash_after_view:
            return  # simulated crash window
        o_store.append_once(dO, bid)
        l_store.append_once(dL, bid)

    handle([(1, "c1")], [], 0)
    handle([], [(1, 10)], 1, crash_after_view=True)  # crashed run
    handle([], [(1, 10)], 1)  # the replay
    handle([], [(1, 5)], 2)  # later batch joins the recovered state
    got = {
        r["c"]: (r["n"], r["cents"])
        for r in fold_view(view.load(spark)).collect()
    }
    assert got == {"c1": (2, 15)}, got


def test_kmeans_sufficient_stats_replay(spark, tmp_path):
    """stream_kmeans_upkeep's handler shape (the sixth additive family):
    served centroid = floor(Σsx / Σn) over bid-tagged partials. A
    replayed batch must (a) re-assign against the PRE-batch centroids —
    the probe excludes same-bid rows — and (b) not double-count the
    partials (append_once skip)."""
    store = DatasetStore(str(tmp_path / "km"), partition_cols=("cl",))
    schema = "cl int, i long, n long, sx long, bid long"
    store.append(
        spark.createDataFrame([(0, 1, 1, 100, -1), (1, 1, 1, 900, -1)], schema)
    )

    def cents(bid):
        st = store.load(spark).filter(F.col("bid") != bid)
        rows = (
            st.groupBy("cl", "i")
            .agg(
                F.floor(F.sum("sx").cast("double") / F.sum("n"))
                .cast("long")
                .alias("cx")
            )
            .collect()
        )
        return {(r["cl"], r["i"]): r["cx"] for r in rows}

    before = cents(0)
    p0 = spark.createDataFrame([(0, 1, 2, 240, 0)], schema)
    assert store.append_once(p0, 0) is not None
    # crash-window replay: the probe still sees only pre-batch state
    assert cents(0) == before
    # and the re-append is recognized and skipped
    assert store.append_once(p0, 0) is None
    served = cents(-999)  # serving fold sees everything
    assert served[(0, 1)] == (100 + 240) // 3
    assert served[(1, 1)] == 900


# ---------------------------------------------------------------------------
# r14: single-action commit primitives — append_compact_once and append_fused
# ---------------------------------------------------------------------------


def test_append_compact_once_equals_append_then_compact(spark, tmp_path):
    """append_compact_once(df, bid, k, fold) must leave the SAME folded
    view, log shape and hwm as append_once + compact did."""
    from gravitydb_spark.transaction import DatasetStore

    a = DatasetStore(str(tmp_path / "old"))
    b = DatasetStore(str(tmp_path / "new"))
    batches = [
        [("a", 1), ("b", 2)],
        [("a", 10), ("c", 3)],
        [("b", 5)],
    ]
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "k string, n long")
        if a.append_once(df, bid) is not None:
            a.compact(spark, min_deltas=2, transform=_fold)
        b.append_compact_once(spark, df, bid, min_deltas=2, transform=_fold)
    assert _view(spark, a) == _view(spark, b) == {"a": 11, "b": 7, "c": 3}
    # every-batch folding keeps the log at ONE snapshot on both paths
    assert len(a.snapshots()) == len(b.snapshots()) == 1
    # replay of the last batch: recognized on both, nothing re-counted
    last = spark.createDataFrame(batches[-1], "k string, n long")
    assert b.append_compact_once(spark, last, 2, min_deltas=2, transform=_fold) is None
    assert _view(spark, b) == {"a": 11, "b": 7, "c": 3}


def test_append_compact_once_below_threshold_is_plain_append(spark, tmp_path):
    from gravitydb_spark.transaction import DatasetStore

    s = DatasetStore(str(tmp_path / "s"))
    d0 = spark.createDataFrame([("a", 1)], "k string, n long")
    s.append_compact_once(spark, d0, 0, min_deltas=4, transform=_fold)
    s.append_compact_once(
        spark,
        spark.createDataFrame([("a", 2)], "k string, n long"),
        1,
        min_deltas=4,
        transform=_fold,
    )
    assert len(s.snapshots()) == 2  # below threshold: deltas accumulate
    assert _view(spark, s) == {"a": 3}


def test_append_fused_multi_store_one_action(spark, tmp_path):
    """append_fused publishes N schemas-distinct deltas from ONE tagged
    collect; per-store content must be byte-equivalent to independent
    appends (readback, partition pruning, bid gating, publish order)."""
    from gravitydb_spark.transaction import DatasetStore, append_fused

    bloom = DatasetStore(str(tmp_path / "bloom"))
    idx = DatasetStore(str(tmp_path / "idx"), partition_cols=("pb",))
    dbloom = spark.createDataFrame([(0, 5), (1, 9)], "w long, bits long")
    didx = spark.createDataFrame(
        [("k1", 0, 0), ("k2", 1, 1)], "bk string, bid long, pb int"
    )
    names = append_fused([(bloom, dbloom), (idx, didx, 0)])
    assert all(n is not None for n in names)
    assert {r.w: r.bits for r in bloom.load(spark).collect()} == {0: 5, 1: 9}
    assert {r.bk for r in idx.load(spark).collect()} == {"k1", "k2"}
    # partition layout intact: a pb filter prunes to hive dirs
    pruned = idx.load(spark, where=F.col("pb") == 1)
    assert [r.bk for r in pruned.collect()] == ["k2"]
    # replayed bid: the gated part skips, the inert part re-publishes
    names2 = append_fused([(bloom, dbloom), (idx, didx, 0)])
    assert names2[0] is not None and names2[1] is None
    assert len(idx.snapshots()) == 1  # no duplicate index delta


def test_append_fused_empty_and_types_roundtrip(spark, tmp_path):
    """Typed-NULL padding must not leak across parts: arrays/strings/
    longs keep their exact types, and an empty partitioned part writes
    no data files (the _read skip contract)."""
    from pyspark.sql import types as T

    from gravitydb_spark.transaction import DatasetStore, append_fused

    s1 = DatasetStore(str(tmp_path / "s1"))
    s2 = DatasetStore(str(tmp_path / "s2"), partition_cols=("cell",))
    d1 = spark.createDataFrame(
        [("v", [1.5, 2.5], 7)], "id string, vec array<double>, n long"
    )
    d2 = spark.createDataFrame(
        [], T.StructType([
            T.StructField("cell", T.IntegerType()),
            T.StructField("vid", T.LongType()),
        ])
    )
    append_fused([(s1, d1), (s2, d2)])
    row = s1.load(spark).collect()[0]
    assert row.id == "v" and row.vec == [1.5, 2.5] and row.n == 7
    assert s2.load(spark) is None  # empty partitioned delta: no files
