"""The one store writer (transaction._SnapshotLog._write_frame) on both of
its branches. With ``graph.ARROW_COMMIT_CAP`` at 3 rows, a frame of at
most 3 rows is written with pyarrow and a larger one by Spark, which
leaves ``_SUCCESS`` beside its files. Every write reads back equal; a
partitioned layout holds one data file per partition directory, and an
unpartitioned Spark write one per non-empty input partition."""

import os
from functools import reduce

import pytest
from pyspark.sql import functions as F

from gravitydb_spark import graph as graph_mod
from gravitydb_spark import transaction
from gravitydb_spark.transaction import DatasetStore, VersionedViewStore, append_fused

CAP = 3


@pytest.fixture
def cap3(monkeypatch):
    monkeypatch.setattr(graph_mod, "ARROW_COMMIT_CAP", CAP)


def _frame(spark, n, start=0):
    return spark.range(start, start + n).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("pb")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def _spark_wrote(d):
    return os.path.exists(os.path.join(d, "_SUCCESS"))


def _check_layout(d, df, partition_cols):
    """One data file per partition directory; an unpartitioned Spark
    write keeps the frame's partitioning, an Arrow write is one file."""
    files = {}
    for dirpath, _dirs, names in os.walk(d):
        n = sum(f.endswith(".parquet") for f in names)
        if n:
            files[dirpath] = n
    if partition_cols:
        assert set(files.values()) == {1}, files
        assert len(files) == df.select(*partition_cols).distinct().count()
    elif _spark_wrote(d):
        filled = [n for n in df.rdd.glom().map(len).collect() if n]
        assert files == {d: len(filled)}, files
    else:
        assert files == {d: 1}, files


@pytest.mark.parametrize("partition_cols", [(), ("pb",)])
def test_append_takes_the_branch_its_size_asks(spark, tmp_path, cap3, partition_cols):
    store = DatasetStore(str(tmp_path / "s"), partition_cols=partition_cols)
    big, small = _frame(spark, 10), _frame(spark, CAP, start=100)
    d_big = os.path.join(store.path, store.append(big))
    d_small = os.path.join(store.path, store.append_once(small, 0))
    assert _spark_wrote(d_big) and not _spark_wrote(d_small)
    _check_layout(d_big, big, partition_cols)
    _check_layout(d_small, small, partition_cols)
    assert _rows(store.load(spark)) == _rows(big.unionByName(small))


def test_compact_fold_above_the_cap_takes_the_cluster_write(spark, tmp_path, cap3):
    store = DatasetStore(str(tmp_path / "s"), partition_cols=("pb",))
    parts = [_frame(spark, 2, start=10 * i) for i in range(3)]
    for df in parts:
        assert not _spark_wrote(os.path.join(store.path, store.append(df)))
    assert store.compact(spark, min_deltas=3)
    (name,) = store.snapshots()
    folded = reduce(lambda a, b: a.unionByName(b), parts)
    d = os.path.join(store.path, name)
    assert _spark_wrote(d)
    _check_layout(d, folded, ("pb",))
    assert _rows(store.load(spark)) == _rows(folded)


def test_append_fused_part_above_the_cap_publishes_at_its_position(
    spark, tmp_path, cap3, monkeypatch
):
    published = []
    write_log = transaction._SnapshotLog._write_log

    def record(self, names, meta=None):
        published.append(os.path.basename(self.path))
        return write_log(self, names, meta)

    monkeypatch.setattr(transaction._SnapshotLog, "_write_log", record)
    stores = [
        DatasetStore(str(tmp_path / "a")),
        DatasetStore(str(tmp_path / "b"), partition_cols=("pb",)),
        DatasetStore(str(tmp_path / "c")),
    ]
    frames = [_frame(spark, 2), _frame(spark, 10, start=100), _frame(spark, 1, start=200)]
    parts = [(stores[0], frames[0]), (stores[1], frames[1], 0), (stores[2], frames[2])]
    names = append_fused(parts)
    assert published == ["a", "b", "c"]
    dirs = [os.path.join(s.path, n) for s, n in zip(stores, names)]
    assert [_spark_wrote(d) for d in dirs] == [False, True, False]
    for store, d, df in zip(stores, dirs, frames):
        _check_layout(d, df, store.partition_cols)
        assert _rows(store.load(spark)) == _rows(df)


def test_view_publish_above_the_cap_takes_the_cluster_write(spark, tmp_path, cap3):
    views = VersionedViewStore(str(tmp_path / "v"))
    big, small = _frame(spark, 10), _frame(spark, 2)
    v_big, v_small = views.publish(big), views.publish_once(small, 0)
    assert _spark_wrote(os.path.join(views.path, v_big))
    assert not _spark_wrote(os.path.join(views.path, v_small))
    _check_layout(os.path.join(views.path, v_big), big, ())
    assert _rows(views.load_version(spark, v_big)) == _rows(big)
    assert _rows(views.load_version(spark, -1)) == _rows(small)
