"""Streaming face for the IVF-PQ vector index — continuous ingest
keeps the ANN serving table fresh, the way the BM25 index, the HLL/CM
sketches and the minhash signature table already have streaming faces.

With FROZEN codebooks + coarse centroids (the production regime:
codebooks are retrained offline, rarely), a batch's index rows are a
PURE FUNCTION of the batch — cell assignment and PQ encoding look at
nothing but the batch's own vectors and the broadcast model. So the
state contract is the ``index_stream`` shape exactly:

- each micro-batch encodes ONLY its own vectors
  (:func:`~mod_reservoir_spark.pipeline.pq.pq_index` over the batch)
  and commits them under ``index/`` (format and replay contract in
  :mod:`~mod_reservoir_spark.streaming.state`; replay-pinned in
  tests/test_pq_stream.py);
- the folded table is EXACTLY ``pq_index`` over everything ingested
  (equivalence-pinned), so :func:`~mod_reservoir_spark.pipeline.pq
  .ivf_pq_topk` serves from it unchanged;
- :func:`compact_pq_index` folds the per-batch partitions into a
  cell-partitioned serving layout — probes equi-join on the cell id,
  and because ``cell`` is the parquet partition column, a broadcast
  probe join lets dynamic partition pruning skip every unprobed
  cell's files entirely.

At 100 TB: per-batch cost is encoding the batch (never re-reading the
corpus); state grows one bounded partition per batch; compaction is
one shuffle on the natural serving key (cell).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mod_reservoir_spark.pipeline.pq import pq_index
from mod_reservoir_spark.streaming import state

EMB_SCHEMA = "vec_id long, embedding array<double>"


def stream_pq_index(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    vec_col: str = "embedding",
    schema=None,
):
    """Maintain the (vec_id, cell, codes) ANN index under continuous
    JSONL vector ingest. Returns the started streaming query; state
    lands under ``{state_dir}/index/`` and is read with
    :func:`read_stream_pq_index` or folded into the serving layout
    with :func:`compact_pq_index`."""
    index_root = os.path.join(state_dir, "index")

    def process(batch_df, batch_id):
        idx = pq_index(
            batch_df, codebooks, centroids, vec_col=vec_col
        ).localCheckpoint(eager=True)
        state.commit(idx, index_root, batch_id)

    return state.start_file_stream(
        spark, input_dir, checkpoint_dir, schema or EMB_SCHEMA, process
    )


def read_stream_pq_index(spark: SparkSession, state_dir: str) -> DataFrame:
    """The folded (vec_id, cell, codes) table over every committed
    batch partition — directly servable by ``ivf_pq_topk``."""
    return state.read(spark, os.path.join(state_dir, "index"), None)


def compact_pq_index(
    spark: SparkSession,
    state_dir: str,
    serving_path: str,
    codebooks: list[list[list[float]]] | None = None,
    centroids: list[list[float]] | None = None,
) -> None:
    """Fold the streaming state into the cell-partitioned serving
    layout: one parquet partition per coarse cell, rows sorted by
    vec_id within. Probe joins on ``cell`` (a literal or broadcast
    side) prune unprobed cells at the file level. With
    ``codebooks``/``centroids`` the fold writes the COMPLETE
    self-describing artifact (:func:`~mod_reservoir_spark.pipeline.pq
    .write_pq_index` — codes + model), readable with
    ``read_pq_index`` alone."""
    idx = read_stream_pq_index(spark, state_dir)
    if codebooks is not None and centroids is not None:
        from mod_reservoir_spark.pipeline.pq import write_pq_index

        write_pq_index(idx, codebooks, centroids, serving_path)
        return
    (
        idx.repartition("cell")
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(serving_path)
    )


def read_pq_serving(spark: SparkSession, serving_path: str) -> DataFrame:
    """Read the compacted serving layout; ``cell`` comes back from the
    partition directory names (cast to long to match pq_index)."""
    from pyspark.sql import functions as F

    return spark.read.parquet(serving_path).withColumn(
        "cell", F.col("cell").cast("long")
    )
