"""Streaming face for the language-model count tables — keep the
corpus LM fresh under continuous ingest, the way the BM25 index
(index_stream.py), the HLL/CM sketches and the minhash signature
table are maintained. The serving use is
:func:`~mod_reservoir_spark.pipeline.text.ngram_logprob_against`:
rank INCOMING documents by NLL under the maintained reference counts
(the CCNet pattern — a clean-corpus LM scoring the crawl).

State contract (the ``streaming_hll`` / ``stream_text_index`` shape):

- each micro-batch counts ONLY its own documents
  (:func:`~mod_reservoir_spark.pipeline.text.ngram_count_tables` over
  the batch) and commits every order's table as an immutable
  partition ``grams{k}/batch=<id>/`` (k = N..2, count column ``c``) +
  ``unigrams/batch=<id>/``;
- counts are ADDITIVE (corpus counts = key-wise sum of batch counts),
  so the fold is one groupBy-sum per table at read time;
- commits stage + atomically rename, so an at-least-once REPLAY
  rewrites its own partition with identical rows (counts are a pure
  function of the batch's documents) and the fold is unchanged —
  exactly-once state from at-least-once delivery;
- the folded tables are EXACTLY ``ngram_count_tables`` over
  everything ingested (equivalence-pinned in
  tests/test_windowed_streaming.py), so ``ngram_logprob_against``
  serves from them unchanged, and self-scoring equality holds:
  scoring the ingested corpus against the folded tables ==
  ``ngram_logprob_scores`` over that corpus.

At 100 TB: per-batch cost is counting the batch (never re-reading the
corpus); state grows one bounded partition per batch (bounded by the
batch's n-gram vocabulary, not its size); the read-time fold is a
combinable sum on vocab keys. When partition count starts to matter,
:func:`compact_ngram_counts` folds the accumulated partitions into one
table per order — idempotent, same rows.

:func:`stream_lm_prefix` is the prefix-table face: one window-count
table per batch instead of one per order, folded into the persisted
model artifact (pipeline/lm_model.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from mod_reservoir_spark.pipeline.text import ngram_count_tables
from mod_reservoir_spark.streaming.windowed import (
    DOC_SCHEMA,
    _commit_sketch_partition,
)


def _table_dirs(order: int) -> list[str]:
    """State/serving directory names, in ngram_count_tables order."""
    return [f"grams{k}" for k in range(order, 1, -1)] + ["unigrams"]


def _commit_ngram_counts(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    order: int,
    text_col: str = "text",
    strata: tuple[str, ...] = (),
) -> None:
    """Count one micro-batch and commit every table as its immutable
    ``batch=<id>`` partition — the per-batch step of
    :func:`stream_ngram_counts` (a replay rewrites the same rows)."""
    tables = ngram_count_tables(batch_df, order, text_col, strata)
    for tbl, d in zip(tables, _table_dirs(order)):
        _commit_sketch_partition(tbl, os.path.join(state_dir, d), batch_id)


def stream_ngram_counts(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    order: int,
    text_col: str = "text",
    schema=None,
    strata: tuple[str, ...] = (),
):
    """Maintain the order-N count tables under continuous JSONL
    ingest. Returns the started streaming query; per-batch
    :func:`~mod_reservoir_spark.pipeline.text.ngram_count_tables`
    land under ``{state_dir}/grams{N}/ .. grams2/ unigrams/`` and are
    read with :func:`read_stream_ngram_counts`; the folded list is
    directly servable by ``ngram_logprob_against`` (and by the funnel
    gates as the N-tuple ``lm_tables``). ``strata`` builds
    per-stratum models (e.g. per language — pass a ``schema`` carrying
    the stratum columns); the fold infers its grouping keys from the
    committed columns, so it needs no matching parameter."""

    def process(batch_df, batch_id):
        _commit_ngram_counts(
            batch_df, state_dir, batch_id, order, text_col, strata
        )

    docs = (
        spark.readStream.schema(schema or DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(input_dir)
    )
    return (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_stream_ngram_counts(
    spark: SparkSession, state_dir: str, order: int
) -> list[DataFrame]:
    """Folded ``[N-grams, ..., bigrams, unigrams]`` over every
    committed batch partition — the exact shapes
    ``ngram_count_tables`` returns."""
    out: list[DataFrame] = []
    for d in _table_dirs(order):
        raw = spark.read.parquet(os.path.join(state_dir, d))
        count = "ctf" if d == "unigrams" else "c"
        # grouping keys inferred from the committed columns, so
        # stratified state (extra stratum columns) folds without a
        # matching parameter
        keys = [c for c in raw.columns if c not in (count, "batch")]
        out.append(
            raw.groupBy(*keys).agg(F.sum(count).cast("long").alias(count))
        )
    return out


def compact_ngram_counts(
    spark: SparkSession, state_dir: str, order: int, serving_path: str
) -> None:
    """Fold the accumulated batch partitions into single tables at
    ``serving_path`` (``grams{N}/ .. grams2/ unigrams/``) — idempotent,
    the same rows the read-time fold produces, directly loadable as
    curate()'s N-tuple ``lm_tables``."""
    tables = read_stream_ngram_counts(spark, state_dir, order)
    for tbl, d in zip(tables, _table_dirs(order)):
        tbl.write.mode("overwrite").parquet(os.path.join(serving_path, d))


def stream_lm_prefix(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    order: int,
    text_col: str = "text",
    schema=None,
    strata: tuple[str, ...] = (),
):
    """Prefix-table face of :func:`stream_ngram_counts` — the
    streaming-maintained form of the PERSISTED MODEL artifact
    (pipeline/lm_model.py): each micro-batch builds ONE prefix-closed
    window-count table (:func:`~mod_reservoir_spark.pipeline.lm_model.
    build_lm_prefix` over the batch — one batch scan + one shuffle,
    versus the per-order face's N of each) and commits it under
    ``prefix/batch=<id>/``. Window counts are ADDITIVE like every
    other count here, so the read-time fold is one groupBy-sum and
    equals ``build_lm_prefix`` over everything ingested
    (equivalence-pinned); :func:`fold_to_model` turns the accumulated
    state into the serving artifact ``score_under_model`` reads. Same
    replay contract as the per-order face: a redelivered batch
    rewrites its own partition with identical rows.

    Use this face when the stream EXISTS to maintain a reference
    model; keep :func:`stream_ngram_counts` when consumers want the
    per-order tables directly from state without a fold-and-derive.
    """
    from mod_reservoir_spark.pipeline.lm_model import build_lm_prefix

    root = os.path.join(state_dir, "prefix")

    def process(batch_df, batch_id):
        _commit_sketch_partition(
            build_lm_prefix(batch_df, order, text_col, strata),
            root,
            batch_id,
        )

    docs = (
        spark.readStream.schema(schema or DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(input_dir)
    )
    return (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def read_stream_lm_prefix(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """The folded prefix table over every committed batch partition —
    exactly ``build_lm_prefix`` over everything ingested."""
    raw = spark.read.parquet(os.path.join(state_dir, "prefix"))
    keys = [c for c in raw.columns if c not in ("c", "batch")]
    return raw.groupBy(*keys).agg(F.sum("c").cast("long").alias("c"))


def fold_to_model(
    spark: SparkSession,
    state_dir: str,
    order: int,
    model_path: str,
    strata: tuple[str, ...] = (),
) -> None:
    """Fold the accumulated streaming state into the persisted model
    artifact (pipeline/lm_model.py layout) — idempotent; afterwards
    ``score_under_model(docs, spark, model_path)`` serves the CCNet
    gate from everything the stream has ingested. The curate-stream
    docstring's lifecycle applies: restart perplexity-gated curation
    on the NEW snapshot rather than mutating a model a live stream is
    scoring under (a moving reference breaks the replay contract)."""
    from mod_reservoir_spark.pipeline.lm_model import write_lm_model

    write_lm_model(
        read_stream_lm_prefix(spark, state_dir), order, model_path,
        strata,
    )
