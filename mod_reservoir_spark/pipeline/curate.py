"""End-to-end corpus curation: the standard pretraining data funnel —
quality filter → exact dedup → near dedup → benchmark decontamination →
PII scrub — composed as ONE lazy Spark plan with a per-document audit
ledger (the C4/RefinedWeb/Gopher pipeline shape, built from this
package's individually oracle-checked operators).

Why a composed operator and not a script: the stages are ORDER-
DEPENDENT — dedup keepers must be chosen among quality survivors (a
kept document may be the near-dup of a quality-dropped one; running
dedup on the raw corpus would drop the survivor too), and the audit
must attribute each document to the FIRST stage that dropped it. The
composition encodes that contract once and equivalence-tests it against
the hand-chained operators.

Scale shape: the funnel MATERIALIZES each stage boundary by default
(eager localCheckpoint). The pure-lazy alternative (``materialize=
False``) hands Spark one DAG — column pruning and predicate pushdown
apply across the whole funnel — but its honest cost is SUBTREE
MULTIPLICATION: every stage output referenced twice (survivors feed
the next stage AND the ledger) is recomputed per reference because
Catalyst does not share non-identical subtrees, and the lazy sf0.001
plan re-scans the corpus 37 times. At 100 TB that multiplication is
the difference between feasible and not (SCALE.md), so the default is
the plan that computes every stage exactly once and reads
checkpointed blocks; ledger pinned row-identical either way. Pass
``materialize=False`` only for tiny corpora where full laziness (no
jobs until the one action) matters more than re-scan count. The
funnel histogram is one extra combinable aggregation over the ledger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mod_reservoir_spark.pipeline.dedup import (
    exact_duplicates,
    near_dedup_keep,
)
from mod_reservoir_spark.pipeline.text import (
    contamination,
    pii_scrub_expr,
    quality_filter,
)

# funnel order is the attribution order: a document dropped by several
# rules reports the FIRST stage in this list that rejected it
# ("url_dup" only participates when curate() is given url_col;
# "perplexity" only when it is given lm_tables)
STAGES = (
    "url_dup", "quality", "perplexity", "exact_dup", "near_dup",
    "contaminated", "near_contaminated",
)


def curate(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    text_col: str = "text",
    quality_kwargs: dict | None = None,
    near_kwargs: dict | None = None,
    max_contamination_ppm: int = 0,
    scrub: bool = True,
    benchmark_near_ppm: int | None = None,
    hasher: str = "md5",
    lm_tables: tuple[DataFrame, ...] | None = None,
    lm_model_path: str | None = None,
    max_nll_e6: int | None = None,
    lm_strata: tuple[str, ...] = (),
    lm_broadcast: bool = False,
    lm_smoothing: str = "jm",
    lm_discounts_ppm: int | tuple[int, ...] | None = None,
    materialize: bool = True,
    url_col: str | None = None,
) -> DataFrame:
    """Run the full curation funnel and return the per-document LEDGER:
    one row per input document with

    - ``drop_stage``: the first stage that dropped it (see ``STAGES``),
      NULL for survivors;
    - ``reject_reasons``: the quality filter's sorted reason list;
    - ``keep_id``: the near-dup component keeper (its own id outside
      any near-dup pair, NULL for docs that never reached that stage);
    - ``contamination_ppm``: benchmark n-gram overlap (NULL when not
      reached or no benchmark given);
    - ``text``: the (optionally PII-scrubbed) text for survivors, NULL
      for dropped documents — so ``.filter("drop_stage IS NULL")`` IS
      the curated corpus and the full frame IS the audit trail.

    ``benchmark=None`` skips decontamination; ``max_contamination_ppm``
    is the keep threshold (0 = any benchmark 8-gram overlap drops).
    ``quality_kwargs`` / ``near_kwargs`` pass through to
    :func:`quality_filter` / :func:`near_dedup_keep` — in particular
    ``near_kwargs={"keep_by": F.length("text")}`` switches the
    near-dup stage to the quality-aware keeper (keep the LONGEST copy
    per component, RefinedWeb's policy; any expression over the
    stage's (doc_id, text) frame works). The contract row keeps the
    default min-id policy.
    ``benchmark_near_ppm`` (with a benchmark) adds the PARAPHRASE-level
    stage after verbatim decontamination: documents whose MinHash
    Jaccard against any benchmark item reaches the given ppm drop as
    ``near_contaminated`` — the reordered/reworded eval leak the
    n-gram check misses.

    ``lm_tables`` (with ``max_nll_e6``) adds the CCNet perplexity
    stage between quality and dedup: quality survivors are scored
    under the given REFERENCE count tables (a clean-corpus LM — any
    N-tuple from ``ngram_count_tables`` up to the 5-gram KenLM shape,
    or folded from the streaming state in streaming/lm_stream.py, or
    derived from a persisted model via
    :func:`~mod_reservoir_spark.pipeline.lm_model.lm_model_tables`).
    Every order gates through
    :func:`~mod_reservoir_spark.pipeline.text.ngram_logprob_against`
    with ``short_docs="backoff"``, and docs with ``n_ngrams=0``
    (empty after tokenization) drop explicitly — a doc shorter than
    the order backs off to the highest order it supports instead of
    bypassing the gate (r9; KenLM never exempts short docs).
    Documents whose mean NLL exceeds ``max_nll_e6`` drop as
    ``perplexity``. Both or neither: the stage needs an explicit
    threshold (an absolute NLL cut against a FIXED reference model is
    reproducible across batches, unlike a within-batch rank cut — use
    :func:`perplexity_buckets` offline to pick the threshold).
    ``max_nll_e6`` MUST be picked under the same short-doc semantics
    this gate runs — backoff: ``perplexity_buckets(lm_tables=...)``
    now defaults to backoff for exactly this reason; a threshold read
    off ``short_docs="zero"`` buckets ranks short docs into the HEAD
    band (score 0) while this gate scores them at their backoff NLL —
    worst-of-corpus for OOV spam — so every short doc lands on the
    wrong side of a zero-calibrated cut (VERDICT r9 #2; pinned by
    tests/test_pipeline.py::test_threshold_semantics_zero_vs_backoff).
    When
    ``lm_tables`` is None the stage is absent from the PLAN entirely,
    so the default funnel — and the ``curate_funnel`` contract row —
    is byte-identical to before.
    ``lm_strata`` (e.g. ``("lang",)``, with tables built via
    ``ngram_count_tables(..., strata=...)``): score each document under
    its own stratum's model — per-language gating, the full CCNet
    recipe; the stratum columns must exist on ``docs``.

    ``lm_smoothing``: ``"jm"`` (default — the historical gate) or
    ``"kn"`` (interpolated Kneser-Ney via
    :func:`~mod_reservoir_spark.pipeline.text.kn_logprob_against` —
    the arithmetic production KenLM/CCNet actually gates with;
    ``lm_discounts_ppm`` passes through). Pick ``max_nll_e6`` under
    the SAME smoothing via ``perplexity_buckets(smoothing=...)`` —
    JM and KN NLL scales differ, so a threshold calibrated under one
    misgates under the other exactly like the short-doc-semantics
    mismatch below.

    ``lm_model_path`` (VERDICT r11 Next #3) is the production shape
    of the same gate as ONE call: the CCNet loop is "estimate the
    reference model offline, persist it, gate every crawl batch under
    it", and composing ``lm_model_tables`` + ``curate(lm_tables=...)``
    by hand loses the two things the sidecar knows — the model's
    recorded strata and its n_windows. This passthrough reads the
    persisted model (:func:`~mod_reservoir_spark.pipeline.lm_model.
    write_lm_model` layout), derives the count tables from the prefix
    artifact, takes ``lm_strata`` from the model's meta, and makes
    the broadcast-vs-merge join decision from the recorded n_windows
    against ``LM_BROADCAST_MAX_WINDOWS`` (never Spark's estimate —
    SCALE.md r10). Mutually exclusive with ``lm_tables``; explicit
    ``lm_strata``/``lm_broadcast`` are rejected with it (the model
    sidecar is authoritative — a silently-overridden stratum set
    would score every doc under the wrong sub-model). Ledger-identical
    to the hand-composed form (pinned in tests/test_curate.py).

    ``materialize`` (DEFAULT True) eagerly localCheckpoints every
    stage boundary that the plan otherwise recomputes (module
    docstring: the pure-lazy form multiplies shared subtrees — 37
    corpus scans at sf0.001, infeasible at 100 TB). Values are pinned
    identical; the call runs the stage jobs up front (it is not fully
    lazy), and checkpoint blocks live until the returned frame is
    garbage-collected. Pass ``materialize=False`` only for tiny
    corpora where deferring all work to the single action matters
    more than re-scan count.

    ``url_col`` (e.g. ``"url"``, naming a column on ``docs``) turns
    on the crawl-first URL-level stage 0: documents sharing a
    canonical URL (:func:`~mod_reservoir_spark.pipeline.text.
    url_dedup` — tracking params / www / port / fragment variants
    collapse) keep only the min-id copy, and the dropped rows report
    ``drop_stage='url_dup'`` in the ledger — the cheapest dedup pass
    a web pipeline runs before anything content-based. Documents with
    a NULL url keep themselves. When None the stage is absent from
    the plan entirely, so the ``curate_funnel`` contract row is
    unchanged.

    ``hasher`` feeds the near-dup stage's shingle hash (VERDICT r6
    "Next #6"): ``md5`` is the cross-engine contract hash (the driver
    row keeps it), ``xxhash64`` the measured fast path — ~30% less
    signature CPU on the funnel's dominant stage at scale. The honest
    behavior contract: every drop is verification-exact under either
    hasher (candidates are always re-checked with exact Jaccard, so
    no FALSE drops ever), and true near-dups (Jaccard well above the
    LSH band S-curve) drop identically; but banding RECALL at the
    S-curve margin is probabilistic in the hash base, so borderline
    pairs right at the threshold may be caught by one hasher and
    missed by the other — pinned on the real corpus (planted-dup
    equality + bounded borderline drift,
    tests/test_curate.py::test_curate_hasher_drop_set_invariant).
    An explicit ``near_kwargs['hasher']`` wins over this parameter.

    Rows with a NULL doc_id are DROPPED up front (the split family's
    rule: an id-less document has no stable identity for dedup or
    audit) — without this they would miss every stage join and leak
    into the survivors unchecked. NULL text is coalesced to '' at
    entry: without the coalesce, quality_filter's NULL n_tokens makes
    every reject condition NULL (keep=1) and a NULL-text doc sails
    through dedup's empty shingle sets into the survivors, breaking
    the ledger invariant "text IS NULL ⇔ dropped"; as '' it is
    dropped by the same too_short rule that drops empty documents.
    """
    docs = docs.filter(F.col("doc_id").isNotNull()).withColumn(
        text_col, F.coalesce(F.col(text_col), F.lit(""))
    )
    # materialize=True: eagerly checkpoint every frame referenced more
    # than once (stage survivors feed BOTH the next stage and the
    # ledger) so each stage computes exactly once — the pure-lazy
    # default recomputes shared subtrees per reference (docstring)
    m = (
        (lambda df: df.localCheckpoint(eager=True))
        if materialize
        else (lambda df: df)
    )

    # Overlap the independent benchmark-side builds with the
    # quality/dedup chain (r14, guide §2.6 — actions are only
    # sequential because the driver calls them sequentially): the
    # contamination n-gram set and the near-contamination signature
    # table depend ONLY on `benchmark`, but in the eager-materialize
    # funnel they used to build serially inside their stage's
    # checkpoint job, after the whole chain. A one-thread pool kicks
    # their materialization off now so those jobs back-fill the idle
    # cores of the chain's stage tails; the stages then consume the
    # pre-built tables through the existing bench_ngrams= /
    # benchmark_sigs= maintained-table parameters (same functions,
    # value-identical — the streaming funnel already consumes them
    # this way). Lazy mode keeps the lazy composition (no jobs may run
    # before the caller's action).
    bench_ng_f = bench_sigs_f = None
    if benchmark is not None and materialize:
        from concurrent.futures import ThreadPoolExecutor

        from mod_reservoir_spark.pipeline.dedup import signature_table
        from mod_reservoir_spark.pipeline.text import benchmark_ngrams

        pool = ThreadPoolExecutor(max_workers=2)
        bench_ng_f = pool.submit(
            lambda: benchmark_ngrams(benchmark, text_col).localCheckpoint(
                eager=True
            )
        )
        if benchmark_near_ppm is not None:
            # near_contamination is invoked below with ITS defaults
            # (num_hashes=16, shingle_n=2, md5) — the pre-built table
            # must match them exactly
            bench_sigs_f = pool.submit(
                lambda: signature_table(
                    benchmark, text_col, 16, 2
                ).localCheckpoint(eager=True)
            )
        pool.shutdown(wait=False)

    base = m(docs.select("doc_id", F.col(text_col).alias("_text")))

    # optional crawl-first URL-level stage 0
    if url_col is not None:
        from mod_reservoir_spark.pipeline.text import url_dedup

        u = m(
            url_dedup(docs.select("doc_id", url_col), url_col).select(
                "doc_id", F.col("is_kept").alias("_u_keep")
            )
        )
        u_surv = m(
            base.join(u.filter("_u_keep = 1"), "doc_id").select(
                "doc_id", "_text"
            )
        )
    else:
        u = None
        u_surv = base

    # quality over the (checkpointed) URL-survivor projection — same
    # values as over docs (the filter reads only doc_id + text)
    # without another trip to the source. carry=("_text",) keeps the
    # text riding the same single projection, so the survivors are a
    # narrow filter of the checkpointed verdict frame instead of a
    # corpus-sized join back onto u_surv (r13, guide §2.4 — one
    # checkpoint job and one shuffle join removed per funnel run)
    q_full = m(
        quality_filter(
            u_surv, "_text", carry=("_text",), **(quality_kwargs or {})
        )
    )
    q = q_full.select(
        "doc_id", "reject_reasons", F.col("keep").alias("_q_keep")
    )
    q_surv = q_full.filter("keep = 1").select("doc_id", "_text")

    # optional CCNet perplexity gate among quality survivors: any
    # ngram_count_tables shape (2-tuple = JM bigram up to the 5-gram
    # KenLM form) scores through the order-N scorer.
    # short_docs="backoff" + the explicit n_ngrams > 0 keep-condition
    # close the r8 bypass: a doc shorter than the LM order used to
    # score (n_ngrams=0, mean_nll_e6=0) and pass ANY threshold
    # whenever a caller lowered quality's min_tokens below the order;
    # now it backs off to the highest order it supports (KenLM never
    # exempts short docs) and only genuinely empty docs hit
    # n_ngrams=0 — which drop.
    if lm_model_path is not None:
        if lm_tables is not None:
            raise ValueError(
                "pass lm_tables or lm_model_path, not both"
            )
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
            docs.sparkSession, lm_model_path
        )
        lm_tables = tuple(prefix_tables(prefix, _order, lm_strata))
        lm_broadcast = n_windows <= LM_BROADCAST_MAX_WINDOWS
    if lm_smoothing not in ("jm", "kn"):
        raise ValueError(f"lm_smoothing must be jm|kn, got {lm_smoothing}")
    if lm_smoothing == "jm" and lm_discounts_ppm is not None:
        raise ValueError(
            "lm_discounts_ppm is a kn parameter; jm gates with the "
            "scorer's default lambdas"
        )
    if lm_tables is None and (
        lm_smoothing != "jm" or lm_discounts_ppm is not None
    ):
        # non-default smoothing parameters with NO gate configured
        # would be silently ignored — the caller asked for a KN gate
        # and forgot the model (ADVICE r12)
        raise ValueError(
            "lm_smoothing/lm_discounts_ppm configure the LM gate, but "
            "no lm_tables or lm_model_path is set — pass the model or "
            "drop the kn parameters"
        )
    if lm_tables is not None:
        if max_nll_e6 is None:
            raise ValueError("lm_tables needs an explicit max_nll_e6")
        from mod_reservoir_spark.pipeline.text import (
            kn_logprob_against,
            ngram_logprob_against,
        )

        gate_in = q_surv.select("doc_id", F.col("_text").alias("text"))
        if lm_strata:
            # strata live on the ORIGINAL docs frame; re-attach by key
            gate_in = gate_in.join(
                docs.select("doc_id", *lm_strata).distinct(), "doc_id"
            )
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
            list(lm_tables),
            strata=lm_strata,
            short_docs="backoff",
            # False (default) = merge-hinted table joins, safe at any
            # model size; pass lm_broadcast=True only for a model
            # KNOWN small (e.g. lm_model meta n_windows under
            # text.LM_BROADCAST_MAX_WINDOWS) — Spark's own estimate
            # mis-broadcasts corpus-sized tables (SCALE.md r10)
            broadcast_tables=lm_broadcast,
            **score_kw,
        )
        px = m(
            scored.select(
                "doc_id",
                "mean_nll_e6",
                (
                    (F.col("n_ngrams") > 0)
                    & (F.col("mean_nll_e6") <= max_nll_e6)
                ).alias("_p_keep"),
            )
        )
        p_surv = m(
            q_surv.join(px.filter("_p_keep"), "doc_id").select(
                "doc_id", "_text"
            )
        )
    else:
        px = None
        p_surv = q_surv

    # exact dedup among perplexity survivors: fingerprint keeper = min id
    fp = exact_duplicates(p_surv, "_text").select(
        "fingerprint", "keeper_doc_id"
    )
    from mod_reservoir_spark.pipeline.text import fingerprint_expr

    with_fp = p_surv.withColumn("_fp", fingerprint_expr("_text"))
    e = m(
        with_fp.join(
            fp, with_fp["_fp"] == fp["fingerprint"]
        ).select(
            "doc_id",
            "_text",
            (F.col("doc_id") == F.col("keeper_doc_id")).alias("_e_keep"),
        )
    )
    e_surv = e.filter("_e_keep").select("doc_id", "_text")

    # near dedup among exact survivors
    nk = dict(near_kwargs or {})
    nk.setdefault("hasher", hasher)
    n = m(
        near_dedup_keep(
            e_surv.select("doc_id", F.col("_text").alias("text")),
            **nk,
        ).select("doc_id", "keep_id", F.col("is_kept").alias("_n_keep"))
    )
    n_surv = m(
        e_surv.join(n.filter("_n_keep = 1"), "doc_id").select(
            "doc_id", "_text"
        )
    )

    # decontamination among near survivors. benchmark=None used to
    # join a constant-column frame derived from n_surv onto the ledger
    # (NULL/True for every row a literal provides identically —
    # drop_stage's `when` skips NULL and False the same way), so the
    # no-op stages now contribute literal columns, not joins (r13,
    # guide §2.4)
    if benchmark is not None:
        c_in = n_surv.select("doc_id", F.col("_text").alias("text"))
        c_frame = (
            contamination(c_in, bench_ngrams=bench_ng_f.result())
            if bench_ng_f is not None
            else contamination(c_in, benchmark)
        )
        c = m(
            c_frame.select(
                "doc_id",
                "contamination_ppm",
                (F.col("contamination_ppm") <= max_contamination_ppm).alias(
                    "_c_keep"
                ),
            )
        )
    else:
        c = None

    # paraphrase-level decontamination among the verbatim survivors
    if benchmark is not None and benchmark_near_ppm is not None:
        from mod_reservoir_spark.pipeline.dedup import near_contamination

        c_surv = n_surv.join(c.filter("_c_keep"), "doc_id").select(
            "doc_id", "_text"
        )
        nc_in = c_surv.select("doc_id", F.col("_text").alias("text"))
        nc_frame = (
            near_contamination(
                nc_in,
                benchmark_sigs=bench_sigs_f.result(),
                threshold_ppm=benchmark_near_ppm,
            )
            if bench_sigs_f is not None
            else near_contamination(
                nc_in, benchmark, threshold_ppm=benchmark_near_ppm
            )
        )
        nc = m(
            nc_frame.select(
                "doc_id",
                (F.col("n_bench_matches") == 0).alias("_nc_keep"),
            )
        )
    else:
        nc = None

    # audit ledger: fold the SKINNY per-stage verdict frames together
    # FIRST (ids + flags, all keyed doc_id, each stage's keys a subset
    # of the previous stage's — left-join reassociation is exact),
    # then attach the text-carrying base ONCE. The old shape joined
    # base against each verdict frame in sequence, dragging the text
    # payload through every exchange (r13, guide §8: decide with small
    # rows, move big rows once).
    verdicts = q
    drop_stage = F.when(F.lit(False), F.lit(""))
    if u is not None:
        verdicts = u.join(verdicts, "doc_id", "left")
        drop_stage = drop_stage.when(
            F.col("_u_keep") == 0, F.lit("url_dup")
        )
    drop_stage = drop_stage.when(F.col("_q_keep") == 0, F.lit("quality"))
    if px is not None:
        verdicts = verdicts.join(
            px.select("doc_id", "_p_keep"), "doc_id", "left"
        )
        drop_stage = drop_stage.when(
            F.col("_p_keep").isNull() | ~F.col("_p_keep"),
            F.lit("perplexity"),
        )
    verdicts = (
        verdicts
        .join(e.select("doc_id", "_e_keep"), "doc_id", "left")
        .join(n.select("doc_id", "keep_id", "_n_keep"), "doc_id", "left")
    )
    if c is not None:
        verdicts = verdicts.join(c, "doc_id", "left")
        c_keep = F.col("_c_keep")
        c_ppm = F.col("contamination_ppm")
    else:
        c_keep = F.lit(True)
        c_ppm = F.lit(None).cast("long")
    if nc is not None:
        verdicts = verdicts.join(nc, "doc_id", "left")
        nc_keep = F.col("_nc_keep")
    else:
        nc_keep = F.lit(True)
    ledger = base.join(verdicts, "doc_id", "left")
    drop_stage = (
        drop_stage
        .when(~F.col("_e_keep"), F.lit("exact_dup"))
        .when(F.col("_n_keep") == 0, F.lit("near_dup"))
        .when(~c_keep, F.lit("contaminated"))
        .when(~nc_keep, F.lit("near_contaminated"))
    )
    out_text = F.when(
        drop_stage.isNull(),
        pii_scrub_expr(F.col("_text")) if scrub else F.col("_text"),
    )
    return ledger.select(
        "doc_id",
        drop_stage.alias("drop_stage"),
        "reject_reasons",
        "keep_id",
        c_ppm.alias("contamination_ppm"),
        out_text.alias("text"),
    )


def curation_funnel(ledger: DataFrame) -> DataFrame:
    """The audit histogram over a :func:`curate` ledger: one row per
    stage in funnel order — (stage, n_dropped) — plus a final
    ('kept', n) row. One combinable aggregation."""
    counts = (
        ledger.groupBy(
            F.coalesce("drop_stage", F.lit("kept")).alias("stage")
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    order = {s: i for i, s in enumerate(STAGES)}
    order["kept"] = len(STAGES)
    omap = F.create_map(
        *[F.lit(x) for kv in order.items() for x in kv]
    )
    return counts.withColumn("stage_order", omap[F.col("stage")]).orderBy(
        "stage_order"
    )
