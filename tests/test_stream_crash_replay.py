"""END-TO-END crash/replay drill for the additive-IVM replay protocol:
a real Structured Streaming query, a real checkpoint directory, a
handler that CRASHES mid-batch after its store append, and a restart
against the same checkpoint — Spark genuinely redelivers the failed
batch (at-least-once), and the bid high-water mark must make the
redelivered append a no-op so the sum view is exact.

test_ivm_replay.py proves the store primitive under simulated windows;
this file proves the composition with Spark's actual redelivery
machinery, including that batch ids really do repeat across restarts.
The feed is staged and driven by the harness every streaming demo runs
on (streaming/microbatch.py), so the drill covers that code, a
checkpoint reused across a crash included.
"""

import os

from pyspark.sql import functions as F

from gravitydb_spark.streaming.microbatch import drive, stage_batches
from gravitydb_spark.transaction import DatasetStore


def _fold(df):
    return df.groupBy("k").agg(F.sum("n").cast("long").alias("n"))


def _stage(spark, tmp_path, batches):
    stage = str(tmp_path / "stage")
    frames = [spark.createDataFrame(rows, "k string, n long") for rows in batches]
    return stage, stage_batches(frames, stage)


def test_crash_after_append_is_not_double_counted(spark, tmp_path):
    stage, schema = _stage(spark, tmp_path, [[("a", 1), ("b", 2)], [("a", 10)]])

    store = DatasetStore(str(tmp_path / "view"))
    ckpt = str(tmp_path / "ckpt")
    crash_flag = str(tmp_path / "crash_once")
    open(crash_flag, "w").write("1")

    def handler(batch_df, bid):
        part = _fold(batch_df)
        if store.append_once(part, bid) is None:
            return  # redelivered batch — already applied
        store.compact(spark, min_deltas=2, transform=_fold)
        # CRASH exactly once, on batch 1, AFTER the append committed
        # but BEFORE the stream checkpoint commits the batch
        if int(bid) == 1 and os.path.exists(crash_flag):
            os.unlink(crash_flag)
            raise RuntimeError("injected crash after store append")

    try:
        drive(stage, handler, schema=schema, checkpoint=ckpt)
        raised = False
    except Exception:
        raised = True
    assert raised, "the injected crash must fail the first run"

    # restart against the SAME checkpoint: Spark redelivers batch 1
    drive(stage, handler, schema=schema, checkpoint=ckpt)

    view = {r["k"]: r["n"] for r in _fold(store.load(spark)).collect()}
    assert view == {"a": 11, "b": 2}, view
    # and the redelivery really happened as a no-op, not as a skip of
    # the data: the store holds exactly the two batches' content with
    # the mark at the last applied bid
    assert store._meta()["bid_hwm"] == "1"


def test_crash_before_append_replays_and_applies(spark, tmp_path):
    """The complementary window: crash BEFORE the append — the replayed
    batch must still apply (the mark only skips batches whose append
    committed)."""
    stage, schema = _stage(spark, tmp_path, [[("a", 5)]])

    store = DatasetStore(str(tmp_path / "view"))
    ckpt = str(tmp_path / "ckpt")
    crash_flag = str(tmp_path / "crash_once")
    open(crash_flag, "w").write("1")

    def handler(batch_df, bid):
        if os.path.exists(crash_flag):
            os.unlink(crash_flag)
            raise RuntimeError("injected crash before store append")
        store.append_once(_fold(batch_df), bid)

    try:
        drive(stage, handler, schema=schema, checkpoint=ckpt)
    except Exception:
        pass
    drive(stage, handler, schema=schema, checkpoint=ckpt)
    view = {r["k"]: r["n"] for r in _fold(store.load(spark)).collect()}
    assert view == {"a": 5}, view
