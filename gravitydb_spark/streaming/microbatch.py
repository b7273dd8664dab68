"""The micro-batch harness every streaming demo runs on.

A demo's feed is a list of frames, one per micro-batch. ``stage_batches``
lands them as one parquet file each, mtimes strictly increasing, so the
file source picks them up in list order (it sorts by modification time,
then path). ``drive`` runs one streaming query to completion: either
``foreachBatch`` over a staged directory, read one file per trigger so
batch ``b`` is exactly frame ``b`` and carries batch id ``b`` on a fresh
checkpoint, or a memory sink whose table it returns. The query is
stopped in ``finally``; a handler's exception propagates to the caller
(after a crash, a rerun on the same checkpoint redelivers the batch).
``signed_fold`` is the one fold of the signed (Z-set) stores the
handlers maintain: rows carry a multiplicity, inserts +1, retractions
-1.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["stage_batches", "drive", "signed_fold"]

# mtime of batch 0; batch b lands 60 s after batch b-1
_MTIME0 = 1_700_000_000


def stage_batches(frames: Sequence[DataFrame], stage_dir: str) -> StructType:
    """Write ``frames[b]`` as ``<stage_dir>/batch-<b>.parquet``: a Spark
    ``coalesce(1)`` write beside ``stage_dir``, its one part file moved
    into place, its mtime set to ``_MTIME0 + 60*b``. Returns the first
    frame's schema, the staged directory's read schema."""
    os.makedirs(stage_dir, exist_ok=True)
    for b, df in enumerate(frames):
        tmp = f"{stage_dir}.tmp{b}"
        df.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(stage_dir, f"batch-{b}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        os.utime(dst, (_MTIME0 + 60 * b, _MTIME0 + 60 * b))
        shutil.rmtree(tmp)
    return frames[0].schema


def drive(
    source: str | DataFrame,
    sink: Callable[[DataFrame, int], None] | str,
    *,
    schema: StructType | None = None,
    checkpoint: str | None = None,
    output_mode: str = "append",
) -> DataFrame | None:
    """Run one streaming query until its input is exhausted.

    - ``sink`` a handler: ``foreachBatch(sink)`` over the staged
      directory ``source``, read with ``schema`` one file per trigger,
      checkpointed at ``checkpoint``. Returns None.
    - ``sink`` a name: ``source`` is a streaming DataFrame written in
      ``output_mode`` to a memory table named ``<sink>_<8 hex>``, which
      is returned."""
    if callable(sink):
        stream = (
            SparkSession.active()
            .readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(source)
        )
        writer = stream.writeStream.foreachBatch(sink).option(
            "checkpointLocation", checkpoint
        )
        table = None
    else:
        table = f"{sink}_{uuid.uuid4().hex[:8]}"
        writer = (
            source.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(table)
        )
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return None if table is None else source.sparkSession.table(table)


def signed_fold(df: DataFrame, keys: Sequence[str], m: str) -> DataFrame:
    """Net the multiplicity column ``m`` per ``keys`` and drop the rows
    that net to zero: ``keys`` then ``m`` (long). An insert and its
    retraction cancel to nothing, so a folded store holds only live
    rows; on an all-insert feed the fold is a duplicate count."""
    return (
        df.groupBy(*keys)
        .agg(F.sum(m).cast("long").alias(m))
        .filter(F.col(m) != 0)
    )
