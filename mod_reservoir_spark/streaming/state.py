"""The on-disk format of every streaming face's maintained state.

Each state table lives under its own root directory as hive partitions
``batch=<id>``, one per micro-batch, written by :func:`commit` and read
back by :func:`read`:

- a commit stages the partition in a hidden ``.staging-<id>``
  directory and then renames it into place, so a reader never lists a
  half-written batch (Spark's partition discovery skips dot-dirs);
- ``foreachBatch`` is at-least-once, so a replayed batch rewrites ITS
  OWN partition: with identical rows, the state converges;
- a batch that reads prior state passes ``before=<its id>``: a no-op
  for a new batch, while an at-least-once replay of an older batch
  sees exactly the state the original run saw, so its rewritten
  partitions are row-identical;
- :func:`compact` folds the partitions into one ``batch=-1``
  (:data:`COMPACTED_BATCH`), a value no streaming batch can have, so a
  replay can never collide with the compacted history. Run it while
  the stream is stopped.

Immutable committed partitions mean no crash window can lose earlier
batches and no reader can race a deletion. :func:`start_file_stream`
is the JSONL source (one file per micro-batch) every face feeds its
per-batch step from.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

COMPACTED_BATCH = -1  # below every real streaming batch id


def _partition(root: str, batch_id: int) -> str:
    return os.path.join(root, f"batch={batch_id}")


def _partitions(root: str) -> list[str]:
    if not os.path.isdir(root):
        return []
    return sorted(e for e in os.listdir(root) if e.startswith("batch="))


def commit(df: DataFrame, root: str, batch_id: int) -> None:
    """Write ``df`` as the ``batch=<batch_id>`` partition of ``root``:
    stage, then rename into place. A replay replaces its own
    partition."""
    staging = os.path.join(root, f".staging-{batch_id}")
    final = _partition(root, batch_id)
    df.write.mode("overwrite").parquet(staging)
    if os.path.isdir(final):
        shutil.rmtree(final)
    os.rename(staging, final)


def read(
    spark: SparkSession,
    root: str,
    schema,
    before: int | None = None,
) -> DataFrame:
    """The committed partitions of ``root`` as one frame, without the
    ``batch`` column; only partitions with ``batch < before`` when
    ``before`` is given. ``schema`` (DDL string or StructType) names
    the columns returned, and is the type of the empty frame returned
    before the first commit, so pollers never crash on a starting
    stream. ``schema=None`` returns every committed column, for tables
    whose columns follow the writer's grouping; such a read raises, as
    Spark's reader does, before the first commit."""
    if schema is not None:
        empty = spark.createDataFrame([], schema)
        if not _partitions(root):
            return empty
    df = spark.read.parquet(root)
    if before is not None:
        df = df.filter(F.col("batch") < before)
    if schema is None:
        return df.drop("batch")
    return df.select(*empty.columns)


def compact(
    spark: SparkSession,
    root: str,
    fold: Callable[[DataFrame], DataFrame],
) -> tuple[int, int]:
    """Replace the partitions of ``root`` by one ``batch=-1`` partition
    holding ``fold(<every committed row, with its batch column>)``.
    Returns (rows written, partitions folded); (0, 0) when nothing is
    committed.

    The sequence is crash-recoverable: a ``.old-compact`` stranded by a
    crash between set-aside and rename-in is restored first and
    leftovers are cleared; then the fold is staged, the previous
    ``batch=-1`` is set aside, the staged fold renames in, and only
    then are the folded partitions cleared. A crash mid-clear leaves
    transient duplicate rows (the new ``batch=-1`` plus not-yet-removed
    originals), converged by rerunning the same fold, never an empty
    or shrunken state."""
    staging = os.path.join(root, ".staging-compact")
    old = os.path.join(root, ".old-compact")
    final = _partition(root, COMPACTED_BATCH)
    if not os.path.isdir(root):
        return 0, 0
    if os.path.isdir(old) and not os.path.isdir(final):
        os.rename(old, final)
    for leftover in (staging, old):
        if os.path.isdir(leftover):
            shutil.rmtree(leftover)
    parts = _partitions(root)
    if not parts:
        return 0, 0
    fold(spark.read.parquet(root)).write.mode("overwrite").parquet(staging)
    n_rows = spark.read.parquet(staging).count()
    if os.path.isdir(final):
        os.rename(final, old)
    os.rename(staging, final)
    if os.path.isdir(old):
        shutil.rmtree(old)
    for p in parts:
        if os.path.join(root, p) != final:
            shutil.rmtree(os.path.join(root, p))
    return n_rows, len(parts)


def file_source(spark: SparkSession, input_dir: str, schema) -> DataFrame:
    """JSONL files in ``input_dir`` as a stream, one file per
    micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(input_dir)
    )


def start_file_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    schema,
    process: Callable[[DataFrame, int], None],
):
    """Start ``process(batch_df, batch_id)`` on every micro-batch of
    :func:`file_source`; returns the StreamingQuery."""
    return (
        file_source(spark, input_dir, schema)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
