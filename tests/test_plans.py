"""Physical-plan regression guards: the scale-critical plan properties
(documented in SCALE.md) asserted against .explain output, so a
refactor that silently introduces a shuffle, loses predicate pushdown,
or drops a broadcast fails here rather than in a 100x-scale run."""

import contextlib
import io

import pytest

SF_DIR = "/root/testdata/sf0.001"


def plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_minhash_signatures_plan_has_no_exchange(docs, spark):
    from mod_reservoir_spark.pipeline.dedup import minhash_signatures

    # single-split bench input: exactly the ONE gated spread_input
    # round-robin exchange (guide §2.5 input skew), then narrow
    # (simple mode prints each operator once; formatted repeats them
    # in the detail section)
    p = plan(minhash_signatures(docs), mode="simple")
    assert p.count("Exchange") == 1, p
    assert "roundrobinpartitioning" in p.lower(), p
    # well-partitioned input (the production case): the gate must not
    # fire — fully narrow scan -> project, no exchange at all
    wide = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).localCheckpoint(eager=True)
    assert "Exchange" not in plan(minhash_signatures(wide))


def test_minhash_verify_evaluates_intersect_once(docs):
    """The per-pair verify scalars must stay behind the persist
    barrier (r13): without it, ppm()'s multi-reference arithmetic plus
    the pushed threshold filter re-inline the non-cheap
    size(array_intersect(...)) / signature zip_with into predicate and
    projection — the plan evaluated array_intersect 8× per candidate
    pair. One evaluation site each, plan-counted."""
    from mod_reservoir_spark.pipeline.dedup import minhash_lsh_pairs

    p = plan(minhash_lsh_pairs(docs, num_hashes=16, bands=4, shingle_n=2))
    # every mention must be the ONE defining projection (`... AS _nc`);
    # a pushed filter predicate or ppm expansion re-inlining it would
    # mention it WITHOUT the alias. Mention count is cache-state
    # dependent (the persisted frame's stored plan echoes the defining
    # Project when another test already materialized it), so assert on
    # the alias invariant, not a fixed count.
    mentions = [
        ln for ln in p.splitlines() if "array_intersect" in ln
    ]
    assert mentions, p
    for ln in mentions:
        assert "AS _nc" in ln, ln


def test_text_ops_plans_have_no_exchange(docs):
    from mod_reservoir_spark.pipeline.text import (
        bpe_token_stats,
        quality_langid,
        quality_scores,
        token_stats,
    )

    for op in (token_stats, bpe_token_stats, quality_scores, quality_langid):
        assert "Exchange" not in plan(op(docs)), op.__name__


def test_text_metrics_merge_adds_no_plan_cost(docs):
    """The merged token_stats+repetition contract row must keep the
    exact shuffle count of repetition_stats alone — the narrow
    token_stats columns ride the same base projection for free."""
    from mod_reservoir_spark.pipeline.text import (
        repetition_stats,
        text_metrics,
    )

    merged = plan(text_metrics(docs))
    alone = plan(repetition_stats(docs))
    assert merged.count("Exchange") == alone.count("Exchange"), merged


def test_cql_filter_pushes_down_to_scan(spark):
    from mod_reservoir_spark.operators.clusters import get_records

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").withColumnRenamed(
        "o_orderkey", "local_id"
    )
    # engine-level CQL compile: numeric predicate must reach the scan
    from mod_reservoir_spark.plans.cql import parse_cql

    q = parse_cql("sourceVersion >= 3")
    fields = {"sourceVersion": ("o_custkey", "numeric")}
    p = plan(orders.filter(q.to_column(fields)))
    assert "PushedFilters" in p
    assert "GreaterThanOrEqual(o_custkey,3)" in p


def test_broadcast_join_for_small_dimension(spark):
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    p = plan(customer.join(nation, customer.c_nationkey == nation.n_nationkey))
    assert "BroadcastHashJoin" in p


def test_contamination_broadcasts_benchmark_set(spark, docs):
    """The benchmark n-gram set must BROADCAST: a shuffled (sort-merge)
    join here would re-shuffle every corpus n-gram at 100 TB."""
    from pyspark.sql import functions as F

    from mod_reservoir_spark.pipeline.text import contamination

    bench = docs.filter(F.col("doc_id") % 97 == 0)
    p = plan(contamination(docs, bench, n=8))
    assert "BroadcastHashJoin" in p


def test_sampling_plans_single_stratum_shuffle(docs):
    """Quota sampling and token budgeting shuffle ONCE on the stratum
    key (hashpartitioning on lang), then sort within partitions —
    no second exchange downstream of the window."""
    from mod_reservoir_spark.pipeline.sampling import (
        stratified_sample,
        token_budget_sample,
    )

    for op in (
        lambda d: stratified_sample(d, ("lang",), 10),
        lambda d: token_budget_sample(d, 1000, ("lang",)),
    ):
        p = plan(op(docs))
        n_exchanges = p.count("+- Exchange")
        assert n_exchanges == 1, p


def test_asof_join_single_shuffle_and_pushdown(spark):
    """The as-of join is ONE window shuffle on the join key, with the
    event-type filter pushed to the parquet scan — not a range join."""
    import __spark_entry__ as E

    p = plan(E.q_asof_join(spark, SF_DIR))
    assert p.count("+- Exchange") == 1, p
    assert "PushedFilters" in p and "In(event_type" in p


def test_range_join_has_no_nested_loop(spark):
    """The interval join must stay a hash/sort-merge equi-join on
    (user_id, bucket) — a plain inequality join would plan as
    BroadcastNestedLoopJoin and explode at scale."""
    import __spark_entry__ as E

    p = plan(E.q_range_join(spark, SF_DIR))
    assert "NestedLoop" not in p and "Cartesian" not in p, p


def test_sketch_plans_single_aggregation_shuffle(docs):
    """Sketch registers reduce with ONE map-side-combinable
    aggregation shuffle — the property that bounds shuffle volume at
    groups × registers regardless of input size."""
    from pyspark.sql import functions as F

    from mod_reservoir_spark.pipeline.sketches import (
        cm_registers,
        hll_registers,
    )

    toks = docs.select(
        "lang", F.explode(F.split(F.lower("text"), r"\s+")).alias("v")
    ).filter(F.col("v") != "")
    for op in (
        lambda d: hll_registers(d, "v", ("lang",), m=512),
        lambda d: cm_registers(d, "v", ("lang",), depth=4, width=256),
    ):
        p = plan(op(toks))
        assert p.count("+- Exchange") == 1, p
        assert "partial_max" in p or "partial_count" in p, p


def test_scan_prunes_unreferenced_columns(docs):
    from pyspark.sql import functions as F

    p = plan(docs.select(F.length("text").alias("n")))
    # ReadSchema must not include the unreferenced lang/source columns
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read_schema and "text" in read_schema[0]
    assert "lang" not in read_schema[0]


def test_line_dedup_plan_is_skew_safe(docs):
    """line_dedup must use the map-side-combinable min-struct groupBy
    for line ownership — never a Window (which would move every copy of
    a hot boilerplate line to one task) — and partial-aggregate before
    each of its three shuffles."""
    from mod_reservoir_spark.pipeline.dedup import line_dedup

    df = line_dedup(docs, line_sep=" ")
    p = plan(df)
    assert "Window" not in p
    assert "partial_min" in p  # ownership min combines map-side
    simple = plan(df, "simple")
    # ownership groupBy + reassembly groupBy + (possibly broadcast)
    # join — never more than 3 data shuffles
    shuffles = simple.count("Exchange") - simple.count("BroadcastExchange")
    assert shuffles <= 3, simple


def test_ngram_counts_plan(docs, spark):
    """ngram_counts (r14 RLE shape): the per-document (ngram, tf)
    pairs fold IN-ROW over the sorted gram array, so the only data
    shuffle is the ONE map-side-combinable per-ngram rollup — the old
    (ngram, doc_id) occurrence-frame exchange is gone; the top-k is a
    TakeOrdered heap, not a global sort. On a single-split bench input
    the gated spread_input round-robin exchange precedes the narrow
    RLE work (guide §2.5); on a well-partitioned input the gate must
    not fire."""
    from mod_reservoir_spark.pipeline.text import ngram_counts

    df = ngram_counts(docs, n=3, k=10)
    p = plan(df)
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p or "partial_sum" in p
    simple = plan(df, "simple")
    assert simple.count("Exchange") == 2, simple
    assert "roundrobinpartitioning" in simple.lower(), simple
    wide = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).localCheckpoint(eager=True)
    assert plan(ngram_counts(wide, n=3, k=10), "simple").count(
        "Exchange"
    ) == 1


def test_ngram_counts_rle_matches_explode_groupby(spark):
    """The r14 in-row RLE derivation of per-document (ngram, tf) pairs
    must match the explode → groupBy(ngram, doc_id) shape it replaced
    — exact rows, including within-document repeats, empty/NULL text,
    and sub-order-length docs."""
    import pyspark.sql.functions as F

    from mod_reservoir_spark.pipeline.dedup import ngram_array
    from mod_reservoir_spark.pipeline.text import ngram_counts, tokens

    docs = spark.createDataFrame(
        [
            (0, "a b a b a"),
            (1, "a b c"),
            (2, ""),
            (3, None),
            (4, "x"),
            (5, "A b a  B a b"),
            (6, "z z z z z z"),
        ],
        "doc_id long, text string",
    )

    def old(docs, n, k):
        grams = ngram_array(tokens("text"), n)
        per_doc = (
            docs.select("doc_id", F.explode(grams).alias("ngram"))
            .groupBy("ngram", "doc_id")
            .agg(F.count("*").alias("c"))
        )
        return (
            per_doc.groupBy("ngram")
            .agg(
                F.sum("c").cast("long").alias("n_total"),
                F.count("*").cast("long").alias("n_docs"),
            )
            .orderBy(F.col("n_total").desc(), F.col("ngram").asc())
            .limit(k)
        )

    for n in (1, 2, 3, 7):
        got = sorted(
            (r.ngram, r.n_total, r.n_docs)
            for r in ngram_counts(docs, n=n, k=100).collect()
        )
        want = sorted(
            (r.ngram, r.n_total, r.n_docs)
            for r in old(docs, n, 100).collect()
        )
        assert got == want, (n, got, want)


def test_bloom_plans(docs):
    """bloom_registers: ONE combinable distinct shuffle (output bounded
    by m_bits); bloom_prefilter: the register side broadcasts — the
    corpus is never shuffled for the membership check."""
    from mod_reservoir_spark.pipeline.sketches import (
        bloom_prefilter,
        bloom_registers,
    )

    regs = bloom_registers(docs, "text")
    p = plan(regs, "simple")
    assert p.count("Exchange") == 1
    pre = plan(bloom_prefilter(docs.select("doc_id", "text"), "text", regs))
    assert "BroadcastHashJoin" in pre


def test_domain_and_blocklist_plans(docs):
    """domain_counts: two partial+final aggregations; blocklist_filter:
    blocklist broadcasts into the anti-join side."""
    from mod_reservoir_spark.pipeline.text import (
        blocklist_filter,
        domain_counts,
    )

    p = plan(domain_counts(docs), "simple")
    assert p.count("Exchange") == 2
    blocked = docs.sparkSession.createDataFrame(
        [("x.com",)], "host string"
    )
    pb = plan(blocklist_filter(docs, blocked))
    assert "BroadcastHashJoin" in pb


def test_duplicate_span_stats_plan(docs):
    """duplicate_span_stats: the two-level combinable aggregation +
    join shape — no Window, partial aggregates before every shuffle."""
    from mod_reservoir_spark.pipeline.dedup import duplicate_span_stats

    df = duplicate_span_stats(docs, k=4)
    p = plan(df)
    assert "Window" not in p
    assert "partial_count" in p


def test_fused_sketch_contract_query_single_pass(spark):
    """q_sketch_registers must stay ONE corpus scan + ONE combinable
    aggregation shuffle — not a union of two independent sketch
    pipelines re-reading the corpus. On the single-split bench input
    the gated spread_input round-robin exchange (r13, guide §2.5 —
    the per-token md5 register build otherwise serializes on one
    core) is additionally allowed; it must be the ONLY extra one."""
    import __spark_entry__ as E

    p = plan(E.q_sketch_registers(spark, SF_DIR), "simple")
    assert p.count("Exchange") == 2, p
    assert "roundrobinpartitioning" in p.lower(), p
    assert p.count("Scan parquet") == 1, p


def test_mixture_sample_plan(docs):
    """mixture_sample: the quota table broadcasts and the stratum
    window is the single data shuffle."""
    from mod_reservoir_spark.pipeline.sampling import mixture_sample

    p = plan(mixture_sample(docs, {"en": 0.6, "de": 0.4}, 100))
    assert "BroadcastHashJoin" in p
    assert p.count("+- Exchange") == 1, p


def test_remove_duplicate_spans_plan(docs):
    """remove_duplicate_spans: ownership is a combinable aggregation
    (never a Window over every window copy); the interval merge and
    reassembly are array expressions, not Python."""
    from mod_reservoir_spark.pipeline.dedup import remove_duplicate_spans

    p = plan(remove_duplicate_spans(docs, k=4))
    assert "Window" not in p
    assert "partial_min" in p or "partial_count" in p
    assert "Python" not in p  # BatchEvalPython/ArrowEvalPython absent


def test_dsir_lambda_table_broadcasts(docs):
    """dsir_weights: the bucket-bounded λ table must BROADCAST to the
    per-doc feature join — shuffling the corpus features against it
    would add a corpus-size exchange per scoring run."""
    from mod_reservoir_spark.pipeline.sampling import dsir_weights

    p = plan(dsir_weights(docs, docs.filter("doc_id < 50"), buckets=1009))
    assert "BroadcastHashJoin" in p


def test_dsir_sample_is_takeordered(docs):
    """dsir_sample: top-k must be a TakeOrdered heap, never a global
    sort of the scored corpus."""
    from mod_reservoir_spark.pipeline.sampling import dsir_sample

    p = plan(
        dsir_sample(docs, docs.filter("doc_id < 50"), k=10, buckets=1009),
        "simple",
    )
    assert "TakeOrderedAndProject" in p


def test_chunk_sequences_unstratified_no_single_partition(spark, docs):
    """The unstratified packing path must never funnel the corpus
    through one partition (ADVICE r4): shard offsets come from the
    two-level prefix-sum — a _pid-partitioned Window over a narrow
    projection — never a bare Window.orderBy."""
    import pyspark.sql.functions as F

    from mod_reservoir_spark.pipeline.tokenizer import chunk_sequences

    tok = docs.select("doc_id", F.split("text", " ").alias("pieces"))
    p = plan(chunk_sequences(tok, seq_len=64, shard_tokens=1000))
    assert "SinglePartition" not in p
    # the per-_pid cumsum now runs eagerly behind a localCheckpoint
    # (so the cached narrow projection can be unpersisted — ADVICE r5);
    # the final plan sees only the checkpointed offsets, which are
    # small enough to broadcast back onto the corpus.
    assert "Scan ExistingRDD" in p
    assert "BroadcastHashJoin" in p


def test_lsh_topk_quantized_reads_only_codes(spark, tmp_path):
    """Serving from the MATERIALIZED int8 table, the quantized ANN
    path's parquet scan must prune to (vec_id, codes) — reading scale
    or dim would void the 4x-smaller-scan claim."""
    from mod_reservoir_spark.pipeline.similarity import (
        lsh_topk_quantized,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "codes")
    quantize_embeddings(emb).write.parquet(path)
    out = lsh_topk_quantized(
        spark.read.parquet(path), emb.filter("vec_id % 100 = 0"),
        k=5, n_planes=10,
    )
    p = plan(out)
    # every parquet scan of the codes table prunes scale/dim away
    for line in p.splitlines():
        if "ReadSchema" in line and "codes" in line:
            assert "scale" not in line and "dim" not in line, line


def test_bm25_plan(spark, docs):
    """BM25: top-k is a TakeOrdered heap (not a global Sort+Exchange),
    df and corpus stats join as broadcasts, and no plan node falls back
    to a cartesian/nested-loop join."""
    from mod_reservoir_spark.pipeline.text import bm25_search

    p = plan(bm25_search(docs, "spark window merge", k=25))
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    # the df table joins as a broadcast hash join; the 1-row (N, avgdl)
    # stats frame arrives as a broadcast cross join (the broadcast
    # nested-loop form is CORRECT for a single-row build side)
    assert "BroadcastHashJoin" in p
    assert p.count("BroadcastExchange") >= 2


def test_hybrid_search_plan(spark, docs):
    """RRF fusion: the final cut is a TakeOrdered over the two bounded
    arms; the corpus-sized side never cartesian-joins."""
    from mod_reservoir_spark.pipeline.similarity import hybrid_search

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = emb.filter("vec_id = 0").select("embedding").first()[0]
    p = plan(
        hybrid_search(docs, emb, "spark window", qvec, k=10, query_id=0)
    )
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_bm25_batch_route_plans(spark, docs):
    """Both bm25_search_batch routing regimes produce the plans their
    cutover promises: the small-batch route BROADCASTS the (query_id,
    term) table onto the postings; the forced mega-batch route must
    NOT broadcast it (ordinary shuffle joins — the plan that survives
    millions of queries)."""
    from mod_reservoir_spark.pipeline.text import (
        bm25_search_batch,
        build_text_index,
    )

    postings, stats = build_text_index(docs)
    qdf = spark.createDataFrame(
        [(0, "spark window"), (1, "vector data")],
        "query_id long, query string",
    )
    p_small = plan(
        bm25_search_batch(postings, stats, qdf, k=5, n_queries=2)
    )
    assert "BroadcastHashJoin" in p_small
    p_mega = plan(
        bm25_search_batch(
            postings, stats, qdf, k=5, n_queries=2,
            max_broadcast_queries=1,
        )
    )
    # the stats 1-row crossjoin legitimately broadcasts in both routes;
    # the qterm joins must not — so the mega plan carries SortMergeJoin
    # or ShuffledHashJoin for them
    assert "SortMergeJoin" in p_mega or "ShuffledHashJoin" in p_mega


def test_ivf_assign_routed_plan_no_shuffle(spark):
    """Routed or flat, ivf_assign is ONE narrow Arrow pass over the
    corpus — no Exchange: the centroid matrix and branch plan ship by
    broadcast variable, never a join."""
    from mod_reservoir_spark.pipeline.similarity import ivf_assign

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan(ivf_assign(emb, n_centroids=16, two_level=True))
    assert "Exchange" not in p
    assert "MapInPandas" in p or "ArrowEvalPython" in p


def test_trigram_scorer_plan(docs):
    """Order-3 scorer: no CartesianProduct/NestedLoop except the
    broadcast singleton total, and the count-table joins are
    hash/sort-merge equi-joins (SCALE.md r8: one row per hot trigram
    per task, never one per occurrence). Window nodes are allowed
    ONLY as the context folds over the vocab-bounded COUNT TABLES
    (r13 batch 8 — partition keys are w* table columns, bounded by
    vocabulary branching); a window over the per-doc occurrence frame
    (partitioned by doc_id or unpartitioned) stays banned."""
    from mod_reservoir_spark.pipeline.text import ngram_logprob_scores

    p = plan(ngram_logprob_scores(docs, 3), mode="simple")
    for ln in p.splitlines():
        if "windowspecdefinition" in ln:
            assert "windowspecdefinition(w1" in ln, ln
    assert "CartesianProduct" not in p
    # the only nested-loop is the broadcast scalar total
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_url_dedup_plan(docs):
    """URL dedup: canonicalization is pure column expressions (no
    Python, no Window); ownership is one combinable aggregation plus
    one equi-join."""
    from pyspark.sql import functions as F

    from mod_reservoir_spark.pipeline.text import url_dedup

    pages = docs.select(
        "doc_id",
        F.concat(F.lit("https://h/"), F.col("doc_id").cast("string"))
        .alias("url"),
    )
    p = plan(url_dedup(pages))
    assert "Window" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_curate_default_plan_is_scan_free(spark, docs):
    """The DEFAULT funnel plan reads checkpointed blocks — zero
    re-derivations of the parquet source (the r8 default flip; the
    37-scan lazy plan is opt-in only)."""
    from mod_reservoir_spark.pipeline.curate import curate

    led = curate(
        docs.limit(50),
        near_kwargs=dict(shingle_n=2, threshold_ppm=500000),
    )
    p = plan(led, mode="simple")
    assert "Scan parquet" not in p


def test_ngram_backoff_plan_single_scan(spark):
    """short_docs="backoff" must not add a second scan of the input:
    the padded window is a conditional gram ARRAY inside the one
    tokenize+explode, not a unioned branch (a second corpus scan per
    scoring call is real money at 100 TB even as a narrow
    projection)."""
    import re

    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_logprob_against,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    tables = [t.localCheckpoint(eager=True) for t in
              ngram_count_tables(docs, 5)]

    def counts(short_docs):
        plan = (
            ngram_logprob_against(docs, tables, short_docs=short_docs)
            ._jdf.queryExecution().executedPlan().toString()
        )
        return (
            len(re.findall(r"FileScan parquet", plan)),
            len(re.findall(r"\bUnion\b", plan)),
        )

    zero_scans, zero_unions = counts("zero")
    back_scans, back_unions = counts("backoff")
    assert back_scans == zero_scans
    assert back_unions == zero_unions == 0


def test_lm_table_join_strategy_is_explicit(spark):
    """The LM scorers must never let Spark's size ESTIMATE pick a
    broadcast for a count table: a localCheckpoint'ed prefix surfaces
    as a stat-less ExistingRDD and aggregate estimates shrink below
    autoBroadcastJoinThreshold even when the real table is 24M rows —
    at sf10 the estimate-driven plan broadcast every table and OOM'ed
    an 8 GiB driver (SCALE.md r10). broadcast_tables=False (default)
    must produce NO BroadcastHashJoin on w-key joins (the one allowed
    broadcast is the scalar/strata totals); True must broadcast every
    table join explicitly."""
    import re

    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_logprob_against,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    # checkpointed tables reproduce the ExistingRDD stats hole that
    # made the estimate mis-broadcast at sf10
    tables = [t.localCheckpoint(eager=True) for t in
              ngram_count_tables(docs, 5)]

    def bhj(broadcast_tables):
        plan = (
            ngram_logprob_against(
                docs, tables, broadcast_tables=broadcast_tables
            )._jdf.queryExecution().executedPlan().toString()
        )
        return len(re.findall(r"BroadcastHashJoin \[w", plan))

    # merge-safe: zero estimate- or hint-broadcast table joins
    assert bhj(False) == 0
    # explicit broadcast: every table join (4 conditional orders + the
    # unigram attach = 5) is a BHJ (r13 batch 8: the context folds are
    # window sums inside the tables now, no longer separate joins)
    assert bhj(True) >= 5


def test_lm_scores_wrapper_broadcast_decision(spark, monkeypatch):
    """ngram_logprob_scores decides the join strategy from the ACTUAL
    prefix row count vs LM_BROADCAST_MAX_WINDOWS — forcing the bound
    to 0 must flip every table join out of broadcast, and the scored
    values must not change (strategy is plan-only)."""
    import re

    from mod_reservoir_spark.pipeline import text as tx

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")

    def plan_and_rows():
        df = tx.ngram_logprob_scores(docs, 3)
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows = sorted(map(tuple, df.collect()))
        return len(re.findall(r"BroadcastHashJoin \[w", plan)), rows

    n_default, rows_default = plan_and_rows()
    # sf0.001 prefix is tiny -> broadcast chosen: one BHJ per table
    # attach (order 3 = 3; ctx folds are window sums since r13 batch 8)
    assert n_default >= 3
    monkeypatch.setattr(tx, "LM_BROADCAST_MAX_WINDOWS", 0)
    n_forced, rows_forced = plan_and_rows()
    assert n_forced == 0
    assert rows_forced == rows_default
