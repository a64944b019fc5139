"""Streaming curation: the batch curate() funnel (quality → exact
dedup → near dedup → decontamination → PII scrub) running continuously
over a document stream with MAINTAINED state — the production lifecycle
where a corpus is curated as it is ingested, not in one offline pass.

State tables under ``state_dir`` (format and replay contract in
:mod:`~mod_reservoir_spark.streaming.state`; every state read is
limited to batches before the current one):

- ``fingerprints/`` — (fingerprint, doc_id) of each batch's
  NEW exact keepers: later batches drop any document whose fingerprint
  is already owned (first-seen wins).
- ``urls/`` — (canonical_url, doc_id) of each batch's NEW
  canonical-URL owners (only when ``url_col`` is given): the
  crawl-first stage 0, same first-seen-wins contract, applied BEFORE
  quality ever reads the text.
- ``signatures/``  — (doc_id, hsh, sig) of each batch's
  exact survivors (INCLUDING near-dropped and contaminated ones: the
  batch funnel's pair graph contains them, so the streaming funnel's
  must too or later near-dup chains through a dropped document would
  break).
- ``ledger/``      — the per-document audit rows
  (doc_id, drop_stage, reject_reasons, text) — the streaming face of
  the batch ledger; text is PII-scrubbed for survivors, NULL otherwise.

Keeper policy: FIRST-SEEN WINS across batches, min-doc_id inside a
batch. When ingest order is doc_id-ordered this is exactly the batch
funnel's min-id CC keeper, and the equivalence is pinned by test:
after N ordered batches, the accumulated ledger equals batch
``curate()`` over everything ingested — drop stages and all. Near-dup
semantics across batches: a new-new pair component that touches the
existing corpus through ANY pair is dropped whole (its keeper already
lives in the corpus); an untouched component keeps its min id. That is
the incremental image of connected-components keeper selection.

ARRIVAL-ORDER CONTRACT (real streams are not id-ordered): which
member of a duplicate group survives depends on arrival order —
first-seen wins is the only keeper policy an append-only stream can
honor without rewriting history. What does NOT depend on arrival
order, pinned by the shuffled-replay test in
tests/test_curate_stream.py:

- the per-stage drop COUNTS (the funnel histogram);
- the quality-drop set (per-document, order-free);
- one survivor per duplicate component, and the survivor is always a
  MEMBER of that component (never an unrelated document);
- the set of components that survive at all.

Only the keeper's identity within its component varies with order —
exactly the freedom the batch funnel resolves by min-id instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from mod_reservoir_spark.pipeline.dedup import (
    incremental_pairs_from_sigs,
    near_dedup_keep,
    signature_table,
)
from mod_reservoir_spark.pipeline.text import (
    contamination,
    fingerprint_expr,
    pii_scrub_expr,
    quality_filter,
)
from mod_reservoir_spark.streaming import state
from mod_reservoir_spark.streaming.windowed import DOC_SCHEMA, _held

_FP_SCHEMA = "fingerprint string, doc_id long"
_URL_SCHEMA = "canonical_url string, doc_id long"
_SIG_SCHEMA = "doc_id long, hsh array<bigint>, sig array<bigint>"
_LEDGER_SCHEMA = (
    "doc_id long, drop_stage string, reject_reasons string, text string"
)


def streaming_curate(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    benchmark: DataFrame | None = None,
    quality_kwargs: dict | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 2,
    threshold_ppm: int = 500000,
    max_contamination_ppm: int = 0,
    scrub: bool = True,
    benchmark_near_ppm: int | None = None,
    lm_tables: tuple[DataFrame, DataFrame] | None = None,
    lm_model_path: str | None = None,
    max_nll_e6: int | None = None,
    lm_strata: tuple[str, ...] = (),
    lm_broadcast: bool = False,
    lm_smoothing: str = "jm",
    lm_discounts_ppm: int | tuple[int, ...] | None = None,
    schema=None,
    url_col: str | None = None,
):
    """Start the streaming funnel over JSONL documents in ``input_dir``
    (schema ``{doc_id, text}``). Returns the StreamingQuery; read the
    accumulated results with :func:`read_curate_state`.
    ``benchmark_near_ppm`` mirrors batch curate(): the paraphrase-level
    decontamination stage, with the benchmark's SIGNATURE table built
    once for the stream's lifetime.
    ``lm_tables``/``max_nll_e6`` mirror batch curate()'s CCNet
    perplexity gate: each batch's quality survivors are scored under
    the FIXED reference LM (persisted once for the stream's lifetime,
    like the benchmark n-grams) and high-NLL docs drop as
    ``perplexity``. Because the reference tables are frozen and the
    score is per-document, the gate is arrival-order-independent by
    construction — the streamed ledger stays pinned to the batch
    funnel. To keep the reference fresh instead, maintain it with
    streaming/lm_stream.py and restart the curate stream on a folded
    snapshot (a moving reference inside one stream would break the
    replay contract: a redelivered batch would re-score under
    different counts).
    ``lm_model_path`` mirrors batch curate()'s one-call production
    gate: the persisted :func:`~mod_reservoir_spark.pipeline.lm_model.
    write_lm_model` artifact supplies the tables, the strata (pass a
    ``schema`` carrying those columns) and the measured
    broadcast-vs-merge decision; mutually exclusive with ``lm_tables``
    and with explicit ``lm_strata``/``lm_broadcast``.
    ``url_col`` mirrors batch curate()'s crawl-first stage 0: a
    ``urls/batch=<id>`` state table of first-seen canonical-URL owners
    (the fingerprint pattern one stage earlier — batch-min inside a
    batch, first-seen wins across batches); later documents sharing an
    owned canonical URL drop as ``url_dup`` before quality ever reads
    their text. NULL / non-canonicalizable-to-NULL urls keep
    themselves. Pass a ``schema`` carrying the url column."""
    fp_root = os.path.join(state_dir, "fingerprints")
    url_root = os.path.join(state_dir, "urls")
    sig_root = os.path.join(state_dir, "signatures")
    ledger_root = os.path.join(state_dir, "ledger")
    if lm_smoothing not in ("jm", "kn"):
        raise ValueError(f"lm_smoothing must be jm|kn, got {lm_smoothing}")
    if lm_smoothing == "jm" and lm_discounts_ppm is not None:
        raise ValueError(
            "lm_discounts_ppm is a kn parameter; jm gates with the "
            "scorer's default lambdas"
        )
    if (
        lm_tables is None
        and lm_model_path is None
        and (lm_smoothing != "jm" or lm_discounts_ppm is not None)
    ):
        # non-default smoothing parameters with NO gate configured
        # would be silently ignored — the caller asked for a KN gate
        # and forgot the model (ADVICE r12)
        raise ValueError(
            "lm_smoothing/lm_discounts_ppm configure the LM gate, but "
            "no lm_tables or lm_model_path is set — pass the model or "
            "drop the kn parameters"
        )
    # lm_model_path mirrors batch curate()'s one-call production gate
    # (VERDICT r11 Next #3): tables derived from the persisted prefix,
    # strata + join strategy from the meta sidecar. The frozen-for-the-
    # stream replay contract holds trivially — a persisted model is
    # immutable by the write_lm_model overwrite-only rule.
    if lm_model_path is not None:
        if lm_tables is not None:
            raise ValueError("pass lm_tables or lm_model_path, not both")
        if lm_strata or lm_broadcast:
            raise ValueError(
                "lm_model_path reads strata and the join strategy "
                "from the model's meta sidecar; drop the explicit "
                "lm_strata/lm_broadcast arguments"
            )
        from mod_reservoir_spark.pipeline.lm_model import (
            _read_model,
            prefix_tables,
        )
        from mod_reservoir_spark.pipeline.text import (
            LM_BROADCAST_MAX_WINDOWS,
        )

        prefix, _order, lm_strata, n_windows = _read_model(
            spark, lm_model_path
        )
        lm_tables = tuple(prefix_tables(prefix, _order, lm_strata))
        lm_broadcast = n_windows <= LM_BROADCAST_MAX_WINDOWS
    ref_tables = None
    if lm_tables is not None:
        if max_nll_e6 is None:
            raise ValueError("lm_tables needs an explicit max_nll_e6")
        # frozen for the stream's lifetime (replay contract — see
        # docstring); persisted because every batch joins against
        # them. Any ngram_count_tables shape up to the 5-gram KenLM
        # form, gated through the order-N scorer with short-doc
        # backoff — byte-for-byte batch curate()'s gate (r9).
        ref_tables = tuple(t.persist() for t in lm_tables)
    bench_ng = None
    bench_sigs = None
    if benchmark is not None:
        # the DISTINCT n-gram set (and, if enabled, the benchmark
        # signature table) is the expensive part — build once for the
        # stream's lifetime (per-batch cost is then just the joins);
        # tiny by definition. The caches live until the session ends —
        # acceptable for tables this size.
        from mod_reservoir_spark.pipeline.text import benchmark_ngrams

        bench_ng = benchmark_ngrams(benchmark).persist()
        if benchmark_near_ppm is not None:
            # NOTE: signature_table is the module-level import; a local
            # import here would shadow it as an unassigned closure cell
            # for the no-benchmark path
            bench_sigs = signature_table(
                benchmark, num_hashes=num_hashes, shingle_n=shingle_n
            ).persist()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # mirror curate(): NULL text → '' so it is dropped as too_short
        # instead of leaking through NULL-propagating stage predicates
        # (and so its fingerprint md5('') matches the empty-doc one
        # only AFTER quality already rejected both).
        with _held() as hold:
            batch = hold(
                batch_df.filter(F.col("doc_id").isNotNull()).withColumn(
                    "text", F.coalesce(F.col("text"), F.lit(""))
                )
            )
            _process_batch(batch, batch_id, hold)

    def _process_batch(batch: DataFrame, batch_id: int, hold) -> None:
        # optional crawl-first URL stage 0 (mirrors batch curate():
        # drop before quality; first-seen canonical owner wins)
        new_owners = None
        if url_col is not None:
            from mod_reservoir_spark.pipeline.text import (
                canonical_url_expr,
            )

            state_urls = state.read(
                spark, url_root, _URL_SCHEMA, before=batch_id
            )
            with_cu = batch.select(
                "doc_id", canonical_url_expr(url_col).alias("_cu")
            ).filter(F.col("_cu").isNotNull())
            batch_min_u = with_cu.groupBy("_cu").agg(
                F.min("doc_id").alias("_ukid")
            )
            flagged_u = hold(
                with_cu.join(batch_min_u, "_cu")
                .join(
                    state_urls.select(
                        F.col("canonical_url").alias("_cu"),
                        F.lit(True).alias("_uowned"),
                    ),
                    "_cu",
                    "left",
                )
                .select(
                    "doc_id",
                    "_cu",
                    (
                        (F.col("doc_id") == F.col("_ukid"))
                        & F.col("_uowned").isNull()
                    ).alias("_u_keep"),
                )
            )
            # NULL-canonical rows never appear in flagged_u → keep
            u = batch.select("doc_id").join(
                flagged_u.select("doc_id", "_u_keep"), "doc_id", "left"
            ).select(
                "doc_id",
                F.coalesce("_u_keep", F.lit(True)).alias("_u_keep"),
            )
            u_surv = batch.join(u.filter("_u_keep"), "doc_id").drop(
                "_u_keep"
            )
            new_owners = flagged_u.filter("_u_keep").select(
                F.col("_cu").alias("canonical_url"), "doc_id"
            )
        else:
            u = None
            u_surv = batch

        q = quality_filter(u_surv, **(quality_kwargs or {})).select(
            "doc_id", "reject_reasons", F.col("keep").alias("_q_keep")
        )
        q_surv = u_surv.join(q.filter("_q_keep = 1"), "doc_id").select(
            "doc_id", "text"
        )

        # optional CCNet perplexity gate (mirrors batch curate():
        # per-doc score under the FROZEN reference tables)
        if ref_tables is not None:
            from mod_reservoir_spark.pipeline.text import (
                kn_logprob_against,
                ngram_logprob_against,
            )

            gate_in = q_surv
            if lm_strata:
                gate_in = gate_in.join(
                    batch.select("doc_id", *lm_strata).distinct(),
                    "doc_id",
                )
            # order-N scorer with short-doc backoff + the explicit
            # n_ngrams > 0 keep-condition — byte-for-byte the batch
            # curate() gate (fold-equals-batch depends on it);
            # lm_smoothing picks jm|kn exactly as batch curate() does
            score_fn = (
                kn_logprob_against
                if lm_smoothing == "kn"
                else ngram_logprob_against
            )
            score_kw = (
                {"discounts_ppm": lm_discounts_ppm}
                if lm_smoothing == "kn"
                else {}
            )
            scored = score_fn(
                gate_in,
                list(ref_tables),
                strata=lm_strata,
                short_docs="backoff",
                # merge-safe default, same contract as batch curate();
                # True only when the frozen reference is KNOWN small
                broadcast_tables=lm_broadcast,
                **score_kw,
            )
            px = scored.select(
                "doc_id",
                (
                    (F.col("n_ngrams") > 0)
                    & (F.col("mean_nll_e6") <= max_nll_e6)
                ).alias("_p_keep"),
            )
            p_surv = q_surv.join(px.filter("_p_keep"), "doc_id").select(
                "doc_id", "text"
            )
        else:
            px = None
            p_surv = q_surv

        # exact dedup: batch-min keeper per fingerprint, then drop
        # fingerprints already owned by an earlier batch
        state_fps = state.read(spark, fp_root, _FP_SCHEMA, before=batch_id)
        with_fp = p_surv.withColumn("_fp", fingerprint_expr("text"))
        batch_min = with_fp.groupBy("_fp").agg(
            F.min("doc_id").alias("_kid")
        )
        flagged = hold(
            with_fp.join(batch_min, "_fp")
            .join(
                state_fps.select(
                    F.col("fingerprint").alias("_fp"),
                    F.lit(True).alias("_owned"),
                ),
                "_fp",
                "left",
            )
            .withColumn(
                "_e_keep",
                (F.col("doc_id") == F.col("_kid"))
                & F.col("_owned").isNull(),
            )
        )
        e_surv = flagged.filter("_e_keep").select("doc_id", "text", "_fp")

        new_sigs = hold(
            signature_table(e_surv, num_hashes=num_hashes, shingle_n=shingle_n)
        )
        corpus_sigs = hold(
            state.read(spark, sig_root, _SIG_SCHEMA, before=batch_id)
        )
        pairs = hold(
            incremental_pairs_from_sigs(
                new_sigs,
                corpus_sigs,
                num_hashes=num_hashes,
                bands=bands,
                threshold_ppm=threshold_ppm,
                persist=False,
            )
        )
        bids = new_sigs.select("doc_id")
        a_new = F.col("_an").isNotNull()
        b_new = F.col("_bn").isNotNull()
        tagged = (
            pairs.join(
                F.broadcast(
                    bids.select(
                        F.col("doc_id").alias("doc_a"),
                        F.lit(True).alias("_an"),
                    )
                ),
                "doc_a",
                "left",
            )
            .join(
                F.broadcast(
                    bids.select(
                        F.col("doc_id").alias("doc_b"),
                        F.lit(True).alias("_bn"),
                    )
                ),
                "doc_b",
                "left",
            )
        )
        new_new = tagged.filter(a_new & b_new).select("doc_a", "doc_b")
        anchored = (
            tagged.filter(a_new != b_new)
            .select(
                F.when(a_new, F.col("doc_a"))
                .otherwise(F.col("doc_b"))
                .alias("doc_id")
            )
            .distinct()
        )
        # CC keeper over the batch-internal pair graph; components
        # touching the corpus through any anchored member drop whole
        comp = near_dedup_keep(
            e_surv.select("doc_id"), pairs=new_new
        ).select("doc_id", "keep_id", "is_kept")
        anchored_comps = (
            comp.join(anchored, "doc_id").select("keep_id").distinct()
        )
        n_flag = comp.join(
            F.broadcast(
                anchored_comps.withColumn("_anc", F.lit(True))
            ),
            "keep_id",
            "left",
        ).select(
            "doc_id",
            ((F.col("is_kept") == 1) & F.col("_anc").isNull()).alias(
                "_n_keep"
            ),
        )
        n_surv = e_surv.join(
            n_flag.filter("_n_keep"), "doc_id"
        ).select("doc_id", "text")

        if bench_ng is not None:
            c = contamination(n_surv, bench_ngrams=bench_ng).select(
                "doc_id",
                (
                    F.col("contamination_ppm")
                    <= max_contamination_ppm
                ).alias("_c_keep"),
            )
        else:
            c = n_surv.select(
                "doc_id", F.lit(True).alias("_c_keep")
            )

        if bench_sigs is not None:
            from mod_reservoir_spark.pipeline.dedup import (
                near_contamination,
            )

            c_surv = n_surv.join(c.filter("_c_keep"), "doc_id")
            nc = near_contamination(
                c_surv.select("doc_id", "text"),
                benchmark_sigs=bench_sigs,
                num_hashes=num_hashes,
                bands=bands,
                shingle_n=shingle_n,
                threshold_ppm=benchmark_near_ppm,
            ).select(
                "doc_id",
                (F.col("n_bench_matches") == 0).alias("_nc_keep"),
            )
        else:
            nc = batch.select(
                "doc_id", F.lit(True).alias("_nc_keep")
            )

        ledger = (
            batch.join(q, "doc_id", "left")
            .join(
                flagged.select("doc_id", "_e_keep"), "doc_id", "left"
            )
            .join(n_flag, "doc_id", "left")
            .join(c, "doc_id", "left")
            .join(nc, "doc_id", "left")
        )
        drop_stage = F.when(F.lit(False), F.lit(""))
        if u is not None:
            ledger = ledger.join(u, "doc_id", "left")
            drop_stage = drop_stage.when(
                ~F.col("_u_keep"), F.lit("url_dup")
            )
        drop_stage = drop_stage.when(
            F.col("_q_keep") == 0, F.lit("quality")
        )
        if px is not None:
            ledger = ledger.join(
                px.select("doc_id", "_p_keep"), "doc_id", "left"
            )
            drop_stage = drop_stage.when(
                F.col("_p_keep").isNull() | ~F.col("_p_keep"),
                F.lit("perplexity"),
            )
        drop_stage = (
            drop_stage
            .when(~F.col("_e_keep"), F.lit("exact_dup"))
            .when(~F.col("_n_keep"), F.lit("near_dup"))
            .when(~F.col("_c_keep"), F.lit("contaminated"))
            .when(~F.col("_nc_keep"), F.lit("near_contaminated"))
        )
        out_text = F.when(
            drop_stage.isNull(),
            pii_scrub_expr(F.col("text")) if scrub else F.col("text"),
        )
        ledger_rows = ledger.select(
            "doc_id",
            drop_stage.alias("drop_stage"),
            "reject_reasons",
            out_text.alias("text"),
        )
        state.commit(ledger_rows, ledger_root, batch_id)
        if new_owners is not None:
            state.commit(new_owners, url_root, batch_id)
        state.commit(
            e_surv.select(
                F.col("_fp").alias("fingerprint"), "doc_id"
            ),
            fp_root,
            batch_id,
        )
        state.commit(new_sigs, sig_root, batch_id)

    # schema override: per-language gating (lm_strata) needs the
    # stratum columns on the stream — default stays (doc_id, text)
    return state.start_file_stream(
        spark, input_dir, checkpoint_dir, schema or DOC_SCHEMA, process
    )


def compact_curate_state(spark: SparkSession, state_dir: str) -> dict:
    """Consolidate the per-batch partitions of the streaming-curate
    state into one ``batch=-1`` partition per table — the curate
    sibling of windowed.compact_near_dedup_state, with the OPPOSITE
    conflict rule: curate state is FIRST-SEEN-WINS (the arrival-order
    contract), so a key appearing in several batches keeps its
    EARLIEST row (min batch), where near-dedup keeps the latest.
    Keys: fingerprints by fingerprint, urls by canonical_url,
    signatures and ledger by doc_id.

    Run while the stream is STOPPED **after a clean stop**
    (processAllAvailable → stop): replay protection relies on a
    replaying batch being able to EXCLUDE its own partition from the
    corpus it reads, and folding that partition into ``batch=-1``
    removes the exclusion handle — compacting with a replay pending
    would make the replay see its own fingerprints and drop every
    document as a duplicate of itself. Crash-recoverable like every
    compaction (:func:`~mod_reservoir_spark.streaming.state.compact`).
    Returns per-table row counts.
    """
    stats = {}
    for table, key_cols, schema in (
        ("fingerprints", ["fingerprint"], _FP_SCHEMA),
        ("urls", ["canonical_url"], _URL_SCHEMA),
        ("signatures", ["doc_id"], _SIG_SCHEMA),
        ("ledger", ["doc_id"], _LEDGER_SCHEMA),
    ):
        cols = spark.createDataFrame([], schema).columns
        val_cols = [c for c in cols if c not in key_cols]

        def first_seen(df):
            # min(struct(batch, vals)) per key; the compacted batch=-1
            # sorts BELOW real batches, so an already-compacted row
            # keeps winning over any later re-appearance
            return (
                df.groupBy(*key_cols)
                .agg(F.min(F.struct("batch", *val_cols)).alias("_first"))
                .select(
                    *key_cols,
                    *[F.col(f"_first.{c}").alias(c) for c in val_cols],
                )
                .select(*cols)
            )

        stats[table], _ = state.compact(
            spark, os.path.join(state_dir, table), first_seen
        )
    return stats


def read_curate_state(spark: SparkSession, state_dir: str):
    """(ledger, fingerprints, signatures) DataFrames of the accumulated
    streaming-curation state; empty typed frames before first commit."""
    return tuple(
        state.read(spark, os.path.join(state_dir, table), schema)
        for table, schema in (
            ("ledger", _LEDGER_SCHEMA),
            ("fingerprints", _FP_SCHEMA),
            ("signatures", _SIG_SCHEMA),
        )
    )
