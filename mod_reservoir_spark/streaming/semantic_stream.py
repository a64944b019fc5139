"""Streaming face for SemDeDup — semantic near-duplicate detection
under continuous ingest, completing the dedup-family lifecycle: exact
(fingerprints) and MinHash near-dedup have maintained streaming state;
this gives the embedding family the same shape.

Centroids are FROZEN for the stream's lifetime (trained offline with
:func:`~mod_reservoir_spark.pipeline.similarity.kmeans_train` on a
sample — the frozen-reference argument from the LM gate and the
benchmark signature table: a moving cell structure would re-assign old
vectors and break the replay contract; refresh = retrain + restart on
compacted state).

Per micro-batch of ``(vec_id, embedding)`` (the ``streaming_near_dedup``
protocol, windowed.py; state format in
:mod:`~mod_reservoir_spark.streaming.state`): assign the batch to cells
(:func:`ivf_assign` under the frozen centroids, two-level routing
included), emit within-batch pairs (self-join, each unordered pair
once) plus batch × corpus cross pairs through the shared
:func:`~mod_reservoir_spark.pipeline.similarity.cell_cosine_pairs`
core, and commit the pairs and the batch's ``(vec_id, cell, v)``
members. Because every pair touches the batch of its later-arriving
member, the union of per-batch pair partitions equals the one-shot
within-cell pair set over everything ingested under the same frozen
centroids (equivalence pinned in tests); the keeper is read-time:
``near_dedup_keep(ids, pairs=folded_pairs)`` — identical CC policy to
batch :func:`semantic_dedup`.

At 100 TB: per-batch cost is the batch assignment plus a cell
equi-join against only the cells the batch touches; state grows one
bounded partition per batch; no stage re-reads the corpus vectors
outside the cell join.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from mod_reservoir_spark.pipeline.similarity import (
    cell_cosine_pairs,
    ivf_assign,
)
from mod_reservoir_spark.streaming import state
from mod_reservoir_spark.streaming.windowed import (
    _compact_id_pairs_state,
    _start_dedup_stream,
)

EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)
_MEMBERS_SCHEMA = "vec_id long, cell int, v array<double>"


def streaming_semantic_dedup(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    two_level: bool | str = "auto",
    schema=None,
):
    """Start the streaming SemDeDup over JSONL ``(vec_id, embedding)``
    rows in ``input_dir``. Returns the StreamingQuery; read the
    accumulated state with :func:`read_semantic_dedup_state`."""

    def assign(batch_df):
        cells = ivf_assign(batch_df, centroids=centroids, two_level=two_level)
        return batch_df.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        ).join(cells, "vec_id")

    def find_pairs(batch_ev, corpus_ev):
        within = cell_cosine_pairs(batch_ev, batch_ev, threshold)
        cross = cell_cosine_pairs(
            batch_ev, corpus_ev, threshold, self_join=False
        )
        # pairs derive from both persisted frames; checkpoint ONE row
        # set before the state commit (the near_dedup pattern)
        return within.unionByName(cross).localCheckpoint(eager=True)

    return _start_dedup_stream(
        spark, input_dir, checkpoint_dir, state_dir, schema or EMB_SCHEMA,
        "members", _MEMBERS_SCHEMA, assign, find_pairs,
    )


def compact_semantic_dedup_state(
    spark: SparkSession, state_dir: str
) -> dict:
    """Compact the streaming-SemDeDup state (members + pairs) into one
    ``batch=-1`` partition per table: keep-latest (cell, v) per
    vec_id, drop pairs staler than either member's current content —
    the :func:`~mod_reservoir_spark.streaming.windowed.
    compact_near_dedup_state` semantics for the embedding family. Run
    while the stream is stopped; idempotent."""
    return _compact_id_pairs_state(
        spark, state_dir, "members", "vec_id", ["cell", "v"], []
    )


def read_semantic_dedup_state(
    spark: SparkSession, state_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(members, pairs) folded over every committed batch partition.
    ``members`` is the accumulated (vec_id, cell, v) assignment table;
    ``pairs`` is the full near-duplicate pair graph — feed it to
    ``near_dedup_keep(ids, pairs=...)`` for the batch-identical CC
    keeper, or to ``semantic_dedup``'s keep policies."""
    return (
        state.read(
            spark, os.path.join(state_dir, "members"), _MEMBERS_SCHEMA
        ),
        state.read(
            spark, os.path.join(state_dir, "pairs"), "doc_a long, doc_b long"
        ),
    )
