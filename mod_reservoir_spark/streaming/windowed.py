"""Watermarked streaming analytics over event streams.

Two operators the batch engine already exposes (`hourly_rollup`,
`sessionize` contract queries) re-expressed for unbounded input:

- `streaming_hourly_rollup`: readStream → withWatermark → windowed
  aggregate. Late events within the watermark update their window;
  events older than the watermark are dropped (bounded state — the
  property that matters at 100 TB/day).
- `streaming_sessionize`: gap-based sessions via
  ``applyInPandasWithState`` — the custom-stateful-operator escape
  hatch for semantics windowed aggregates can't express. State per
  user is (start, last, count); an event-time timeout at
  last + gap emits the closed session once the watermark passes it.

Both share the JSONL event schema used by the batch `events` table.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

import pandas as pd
from pyspark.sql import SparkSession, functions as F, types as T

from mod_reservoir_spark.streaming import state
from mod_reservoir_spark.streaming.state import file_source
from mod_reservoir_spark.streaming.state import COMPACTED_BATCH  # noqa: F401

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def streaming_hourly_rollup(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    query_name: str = "hourly_rollup_stream",
):
    """Per-(hour, event_type) counts and cents over a file stream,
    update-mode memory sink for inspection. Watermark bounds both
    state size and lateness acceptance."""
    events = file_source(spark, input_dir, EVENT_SCHEMA)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(
            F.col("window.start").alias("hour"),
            "event_type",
            "n",
            "value_cents",
        )
    )
    return (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


SESSION_OUTPUT = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long"
)
SESSION_STATE = "start_us long, last_us long, n_events long"


def _session_fn(gap_seconds: int):
    gap_us = gap_seconds * 1_000_000

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                }
            )
            return
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(int(t.value // 1000) for t in pdf["ts"])
        if not ts_us:
            return
        ts_us.sort()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = ts_us[0], ts_us[0], 0
        closed = []
        for t in ts_us:
            if t - last_us > gap_us:
                closed.append((start_us, last_us, n))
                start_us, n = t, 0
            last_us = max(last_us, t)
            n += 1
        state.update((start_us, last_us, n))
        # event-time timeout: fire when the watermark passes last+gap
        state.setTimeoutTimestamp(last_us // 1000 + gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [
                        pd.Timestamp(s, unit="us") for s, _e, _n in closed
                    ],
                    "session_end": [
                        pd.Timestamp(e, unit="us") for _s, e, _n in closed
                    ],
                    "n_events": [n_ for _s, _e, n_ in closed],
                }
            )

    return fn


def streaming_dedup(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "1 hour",
    query_name: str = "dedup_stream",
):
    """Streaming exact-dedup: emit each key once, with BOUNDED state.

    ``dropDuplicatesWithinWatermark`` keeps a key's fingerprint only
    until the watermark passes its event time, so state size is
    O(keys per watermark window), not O(all keys ever) — the property
    that lets an at-least-once ingest firehose (OAI harvest retries,
    upload replays, duplicate training documents) run deduped forever.
    This is the streaming face of the batch exact-dedup operator
    (pipeline/dedup.exact_duplicates); near-dup (MinHash) streaming
    would put the signature in key_cols via a preceding select.
    """
    events = file_source(spark, input_dir, EVENT_SCHEMA)
    deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streaming_sessionize(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    gap_seconds: int = 1800,
    watermark: str = "10 minutes",
    query_name: str = "sessionize_stream",
):
    """Gap-based sessionization with per-user state and event-time
    timeouts (``applyInPandasWithState``). A session closes when its
    user is silent for `gap_seconds` of EVENT time — emitted either by
    a later in-batch event past the gap or by the timeout once the
    watermark passes session_end + gap."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    events = file_source(spark, input_dir, EVENT_SCHEMA)
    sessions = (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn(gap_seconds),
            SESSION_OUTPUT,
            SESSION_STATE,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    return (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


_SIG_SCHEMA = "doc_id long, hsh array<bigint>, sig array<bigint>"
_NEAR_PAIRS_SCHEMA = "doc_a long, doc_b long, est_ppm long, jaccard_ppm long"
_SIMHASH_SCHEMA = "doc_id long, simhash long"
_SIMHASH_PAIRS_SCHEMA = "doc_a long, doc_b long, hamming long"


@contextmanager
def _held():
    """Yield ``hold(df)``, which persists ``df`` for one micro-batch;
    every held frame is unpersisted on exit, also when a step raises.
    A frame is registered before it is persisted, so nothing persisted
    can escape the release."""
    frames = []

    def hold(df):
        frames.append(df)
        return df.persist()

    try:
        yield hold
    finally:
        for df in frames:
            df.unpersist()


def _start_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    stream_schema,
    id_table: str,
    id_schema: str,
    sign,
    find_pairs,
):
    """The per-batch protocol of the (id table, pairs) dedup faces.

    Per micro-batch: (1) ``sign`` the batch (non-NULL ids) and persist
    it; (2) read the id table committed before this batch, anti-joined
    with the batch's own ids (broadcast; a replay then recomputes
    against the same corpus as the original run), and persist it;
    (3) ``find_pairs(signed, corpus)``; (4) commit the pairs, then the
    batch's ids — :func:`_compact_id_pairs_state` handles the
    pairs-without-ids state a crash between the two leaves;
    (5) unpersist both frames, also when a step raises. Persisting
    keeps the corpus to one read per batch although the pair search
    references it in several joins; no global cache invalidation, so
    caches the application holds are untouched."""
    ids_root = os.path.join(state_dir, id_table)
    pairs_root = os.path.join(state_dir, "pairs")
    id_cols = spark.createDataFrame([], id_schema).columns
    key = id_cols[0]

    def process(batch_df, batch_id):
        with _held() as hold:
            signed = hold(sign(batch_df.filter(F.col(key).isNotNull())))
            corpus = hold(
                state.read(spark, ids_root, id_schema, before=batch_id)
                .join(F.broadcast(signed.select(key)), key, "left_anti")
            )
            state.commit(find_pairs(signed, corpus), pairs_root, batch_id)
            state.commit(signed.select(*id_cols), ids_root, batch_id)

    return state.start_file_stream(
        spark, input_dir, checkpoint_dir, stream_schema, process
    )


def streaming_near_dedup(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 2,
    threshold_ppm: int = 500000,
):
    """Streaming MinHash near-dup detection with MAINTAINED state —
    the production lifecycle of incremental LSH dedup wired into
    Structured Streaming via ``foreachBatch``.

    Per micro-batch of documents (:func:`_start_dedup_stream`): sign
    the batch once, run the signatures-level incremental pass against
    the accumulated corpus signature state — the corpus is read, never
    re-shingled, and cost is O(batch × bucket occupancy) — and commit
    the batch's verified pairs and signatures as per-batch partitions
    under ``state_dir`` (``signatures/``, ``pairs/``; format and replay
    contract in :mod:`~mod_reservoir_spark.streaming.state`). Per-batch
    write volume is O(batch), NOT a rewrite of the accumulated state.
    Because every near-dup pair "touches" the batch of its
    later-arriving member, the union of the per-batch pair partitions
    equals the full batch `minhash_lsh_pairs` over everything ingested
    (equivalence pinned in tests/test_windowed_streaming.py). Read the
    accumulated state with :func:`read_near_dedup_state`. Cross-batch
    duplicates cannot arise as long as doc_ids are unique across
    batches (re-ingesting a changed document under the same id needs
    :func:`compact_near_dedup_state`).
    """
    from mod_reservoir_spark.pipeline.dedup import (
        incremental_pairs_from_sigs,
        signature_table,
    )

    return _start_dedup_stream(
        spark, input_dir, checkpoint_dir, state_dir, DOC_SCHEMA,
        "signatures", _SIG_SCHEMA,
        lambda docs: signature_table(
            docs, num_hashes=num_hashes, shingle_n=shingle_n
        ),
        lambda sigs, corpus: incremental_pairs_from_sigs(
            sigs,
            corpus,
            num_hashes=num_hashes,
            bands=bands,
            threshold_ppm=threshold_ppm,
            persist=False,
        ),
    )


def streaming_simhash_dedup(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    bits: int = 24,
    max_hamming: int = 3,
    n_bands: int | None = None,
):
    """Streaming SimHash near-dup detection with MAINTAINED state —
    the simhash sibling of :func:`streaming_near_dedup`, same protocol
    over ``hashes/`` + ``pairs/`` (union of per-batch pairs == batch
    :func:`~mod_reservoir_spark.pipeline.dedup.simhash_near_pairs`
    over everything ingested). The maintained state is ONE int64 per
    document — at 100 TB the corpus side of the bucket join is a
    16-byte-row table, the cheapest of the dedup-family states."""
    from mod_reservoir_spark.pipeline.dedup import (
        incremental_simhash_pairs,
        simhash,
    )

    return _start_dedup_stream(
        spark, input_dir, checkpoint_dir, state_dir, DOC_SCHEMA,
        "hashes", _SIMHASH_SCHEMA,
        lambda docs: simhash(docs, bits=bits),
        lambda sh, corpus: incremental_simhash_pairs(
            sh, corpus, bits=bits, max_hamming=max_hamming, n_bands=n_bands
        ),
    )


def read_simhash_dedup_state(spark: SparkSession, state_dir: str):
    """(hashes, pairs) folded over every committed batch partition —
    hashes is the accumulated (doc_id, simhash) table, pairs the full
    near-dup pair graph (feed ``near_dedup_keep(ids, pairs=...)``).
    Empty typed frames for tables with no committed partition yet."""
    return (
        state.read(spark, os.path.join(state_dir, "hashes"), _SIMHASH_SCHEMA),
        state.read(
            spark, os.path.join(state_dir, "pairs"), _SIMHASH_PAIRS_SCHEMA
        ),
    )


def read_near_dedup_state(spark: SparkSession, state_dir: str):
    """(signatures, pairs) DataFrames of the accumulated streaming
    near-dedup state — unions of the per-batch partitions. Empty typed
    frames for tables with no committed partition yet."""
    return (
        state.read(spark, os.path.join(state_dir, "signatures"), _SIG_SCHEMA),
        state.read(
            spark, os.path.join(state_dir, "pairs"), _NEAR_PAIRS_SCHEMA
        ),
    )


def compact_near_dedup_state(spark: SparkSession, state_dir: str) -> dict:
    """Consolidate the per-batch partitions of the streaming near-dedup
    state into one ``batch=-1`` partition per table — the compaction
    pass the append-structured store needs: thousands of small
    per-batch directories become one well-sized partition, a document
    RE-INGESTED under the same doc_id in a later batch replaces its
    older signature row (latest batch wins), and pairs whose member was
    re-ingested AFTER the pair was verified are DROPPED — they
    certified the old content, and keeping them would corrupt
    downstream keeper/split decisions about the rewritten document.
    The compacted rows sort below every real batch in the keep-latest
    ``max(struct(batch, …))``, so post-compaction batches still win.

    Run while the stream is STOPPED; crash-recoverable and idempotent
    (:func:`~mod_reservoir_spark.streaming.state.compact`).

    Returns {"signatures": n_rows, "pairs": n_rows, "batches": n}.
    """
    return _compact_id_pairs_state(
        spark, state_dir, "signatures", "doc_id", ["hsh", "sig"],
        ["est_ppm", "jaccard_ppm"],
    )


def _keep_latest(df, key_cols: list[str], val_cols: list[str]):
    """Per key, the values of the latest batch, plus that ``_batch``."""
    return (
        df.groupBy(*key_cols)
        .agg(F.max(F.struct(F.col("batch"), *val_cols)).alias("_m"))
        .select(
            *key_cols,
            F.col("_m.batch").alias("_batch"),
            *[f"_m.{c}" for c in val_cols],
        )
    )


def _compact_id_pairs_state(
    spark: SparkSession,
    state_dir: str,
    id_table: str,
    id_key: str,
    id_vals: list[str],
    pair_vals: list[str],
) -> dict:
    """Compactor for the (id table, pairs) dedup state shape, shared
    by the near-dup, simhash and semantic faces: keep-latest per id,
    drop pairs staler than either member's current content. Run while
    the stream is STOPPED."""
    id_batch = None

    def fold_ids(df):
        nonlocal id_batch
        latest = _keep_latest(df, [id_key], id_vals)
        # eagerly materialized: the pairs fold consumes this AFTER the
        # id table's partitions are cleared, so the lineage back to
        # those parquet files must be cut
        id_batch = latest.select(
            id_key, F.col("_batch").alias("_id_batch")
        ).localCheckpoint(eager=True)
        return latest.drop("_batch")

    def fold_pairs(df):
        latest = _keep_latest(df, ["doc_a", "doc_b"], pair_vals)
        # id_batch is None when pairs were committed but the id table
        # has no partitions — a crash between the FIRST batch's two
        # commits. No id state means no pair can be stale.
        if id_batch is not None:
            for side in ("doc_a", "doc_b"):
                latest = (
                    latest.join(
                        id_batch.select(
                            F.col(id_key).alias(side), "_id_batch"
                        ),
                        side,
                        "left",
                    )
                    .filter(
                        F.col("_id_batch").isNull()
                        | (F.col("_batch") >= F.col("_id_batch"))
                    )
                    .drop("_id_batch")
                )
        return latest.drop("_batch")

    stats = {}
    n_batches = 0
    for table, fold in ((id_table, fold_ids), ("pairs", fold_pairs)):
        stats[table], n = state.compact(
            spark, os.path.join(state_dir, table), fold
        )
        n_batches = max(n_batches, n)
    stats["batches"] = n_batches
    return stats


def compact_simhash_dedup_state(
    spark: SparkSession, state_dir: str
) -> dict:
    """Compact the streaming-simhash state (hashes + pairs) into one
    ``batch=-1`` partition per table: keep-latest hash per doc_id,
    drop pairs staler than either member's current content. Run while
    the stream is stopped; idempotent."""
    return _compact_id_pairs_state(
        spark, state_dir, "hashes", "doc_id", ["simhash"], ["hamming"]
    )


def streaming_hll(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    value_col: str = "text",
    group_cols: tuple[str, ...] = (),
    m: int = 512,
    schema=None,
):
    """Streaming cardinality maintenance — the sketch lifecycle at
    ingest time (how many distinct values has this stream EVER carried,
    per group, answerable at any moment without rescanning history).

    Each micro-batch commits its own bounded register partition under
    ``regs/`` (≤ groups × m rows) and the current sketch is the
    max-merge over partitions at read time: registers are
    md5-deterministic and max-merge is idempotent and associative, so
    the folded state EXACTLY equals the batch `hll_registers` over
    everything ingested (pinned by test) and an at-least-once replay
    changes nothing. State grows one bounded partition per batch.

    ``schema``: the stream's JSONL schema (default DOC_SCHEMA —
    doc_id/text); pass one containing your ``group_cols`` when
    grouping, e.g. ``"doc_id long, lang string, text string"``.
    """
    from mod_reservoir_spark.pipeline.sketches import hll_registers

    root = os.path.join(state_dir, "regs")

    def process(batch_df, batch_id):
        state.commit(
            hll_registers(batch_df, value_col, group_cols, m),
            root,
            batch_id,
        )

    return state.start_file_stream(
        spark, input_dir, checkpoint_dir, schema or DOC_SCHEMA, process
    )


def _register_schema(group_cols: tuple[str, ...], cols: str) -> str:
    # group columns typed string: before the first commit there is no
    # data to derive richer types from
    return ", ".join([*(f"{g} string" for g in group_cols), cols])


def read_hll_state(
    spark: SparkSession, state_dir: str, group_cols: tuple[str, ...] = ()
):
    """The accumulated register table per ``group_cols`` (a subset of
    the stream's group columns; omitted ones are merged over):
    per-batch partitions max-merged into one
    (pipeline.sketches.hll_merge). Empty typed frame before the first
    commit."""
    from mod_reservoir_spark.pipeline.sketches import hll_merge

    regs = state.read(
        spark,
        os.path.join(state_dir, "regs"),
        _register_schema(group_cols, "bucket long, r long"),
    )
    return hll_merge(regs)


def streaming_cm(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    value_col: str = "text",
    group_cols: tuple[str, ...] = (),
    depth: int = 4,
    width: int = 256,
    schema=None,
):
    """Streaming frequency maintenance: the Count-Min sibling of
    :func:`streaming_hll`, same per-batch-partition state —
    CM's add-merge is not idempotent across DIFFERENT batches, but a
    replayed batch rewriting its own partition with identical rows is.
    Per-batch write volume is the bounded register table
    (groups × depth × width rows); :func:`read_cm_state` folds the
    partitions with the engine's ``cm_merge``. ``schema``: see
    :func:`streaming_hll`.
    """
    from mod_reservoir_spark.pipeline.sketches import cm_registers

    root = os.path.join(state_dir, "regs")

    def process(batch_df, batch_id):
        state.commit(
            cm_registers(batch_df, value_col, group_cols, depth, width)
            .withColumn("d", F.col("d").cast("long")),
            root,
            batch_id,
        )

    return state.start_file_stream(
        spark, input_dir, checkpoint_dir, schema or DOC_SCHEMA, process
    )


def read_cm_state(
    spark: SparkSession, state_dir: str, group_cols: tuple[str, ...] = ()
):
    """The accumulated Count-Min register table per ``group_cols`` (see
    :func:`read_hll_state`): per-batch partitions add-merged into one
    via ``pipeline.sketches.cm_merge`` — empty typed frame before the
    first commit."""
    from mod_reservoir_spark.pipeline.sketches import cm_merge

    regs = state.read(
        spark,
        os.path.join(state_dir, "regs"),
        _register_schema(group_cols, "d long, cell long, c long"),
    )
    return cm_merge(regs)
