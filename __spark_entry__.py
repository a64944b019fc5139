"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is an operator from SURVEY.md §2 (or a
training-data-pipeline extension) re-expressed through the
mod_reservoir_spark library; ``oracle_sql()`` gives the DuckDB-ANSI
equivalent the driver cross-checks at sf=0.01.

Cross-engine exactness strategy (see mod_reservoir_spark/pipeline):
- ratios → integer parts-per-million via exact long arithmetic
- money → integer cents (per-row double→cents round, then exact sums)
- hashes → md5-derived (identical in both engines)
- timestamps → formatted strings (microsecond precision)
Floating point appears only in embedding cosine scores (rounded to 6
decimals; both engines do IEEE double ops in identical order).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mod_reservoir_spark.operators.clustering import cluster_all_pools
from mod_reservoir_spark.operators.export import keyset_page
from mod_reservoir_spark.pipeline import dedup as dd
from mod_reservoir_spark.pipeline import pq as pqm
from mod_reservoir_spark.pipeline import similarity as sim
from mod_reservoir_spark.pipeline import sampling as smp
from mod_reservoir_spark.pipeline import text as tx
from mod_reservoir_spark.pipeline.text import ppm
from mod_reservoir_spark.plans.cql import parse_cql

SF_SMOKE = "/root/testdata/sf0.001"

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def _enable_nanos(spark: SparkSession) -> None:
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    # the DuckDB oracle treats timestamps naively; pin the session tz so
    # NTZ→timestamp casts and date_trunc agree with it even when the
    # harness session was built without mod_reservoir_spark.session's
    # UTC default (runtime-settable conf, safe to set per query)
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        _enable_nanos(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # normalize ts to TIMESTAMP (LTZ, session tz UTC) whatever the
        # parquet encoding: TIMESTAMP(NANOS) reads as long nanos under
        # nanosAsLong; micros with isAdjustedToUTC=false reads as NTZ
        # (the driver's current testdata); adjusted micros reads as
        # TIMESTAMP already
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _cents(col) -> F.Column:
    """Exact integer cents from a 2-decimal double (per-row, both
    engines produce identical doubles → identical cents)."""
    return F.round(col * 100, 0).cast("long")


# --------------------------------------------------------------------
# reservoir relational surface on the TPC-H-ish tables
# --------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: the reference's aggregate surface (SURVEY §2.4)
    on lineitem — map-side combinable hash aggregate, no Python."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_cents(F.col("l_quantity"))).alias("sum_qty_cents"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(_cents(disc_price)).alias("sum_disc_cents"),
            F.count("*").alias("count_order"),
        )
        .withColumn(
            "avg_qty_ppm", ppm(F.col("sum_qty_cents"), F.col("count_order"))
        )
    )


ORDER_CQL_FIELDS = {
    "orderKey": ("o_orderkey", "numeric"),
    "custKey": ("o_custkey", "numeric"),
    "orderStatus": "o_orderstatus",
    "totalPrice": ("o_totalprice", "numeric"),
    "orderPriority": "o_orderpriority",
}
ORDERS_CQL = 'orderStatus = "O" AND totalPrice >= 150000 sortBy orderKey'


def q_cql_filter(spark, sf_dir):
    """CQL-subset surface (SURVEY §2.2): the same parsed AST produces
    the Spark predicate here and the SQL WHERE in the oracle."""
    q = parse_cql(ORDERS_CQL)
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(q.to_column(ORDER_CQL_FIELDS))
        .orderBy(*q.order_by(ORDER_CQL_FIELDS), F.col("o_orderkey"))
        .limit(100)
        .select(
            "o_orderkey",
            "o_custkey",
            _cents(F.col("o_totalprice")).alias("total_cents"),
        )
    )


def q_paging_offset(spark, sf_dir):
    """limit/offset paging with deterministic total order
    (reference Storage.java:1230-1237; defaults limit=10 offset=0)."""
    from mod_reservoir_spark.operators.clusters import paginate

    cust = _t(spark, sf_dir, "customer")
    return paginate(
        cust.select("c_custkey", "c_name", "c_mktsegment"),
        [F.col("c_custkey")],
        limit=50,
        offset=100,
    )


def q_latest_version(spark, sf_dir):
    """latest-version-per-source window (ClusterBuilder.latest,
    reference ClusterBuilder.java:72-96): latest order per customer."""
    orders = _t(spark, sf_dir, "orders")
    # r13: row_number window → one combinable max(struct) — the window
    # shape sorts every partition and cannot partial-aggregate
    # map-side; max(struct(date, key)) picks the identical row (both
    # sort keys descend, columns are non-null) with one partial-agg
    # exchange and no sort (guide §2.3 "aggregate before you shuffle")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.struct("o_orderdate", "o_orderkey")).alias("_m")
        )
        .select(
            "o_custkey",
            F.col("_m.o_orderkey").alias("latest_orderkey"),
            F.date_format("_m.o_orderdate", TS_FMT_SPARK).alias(
                "latest_date"
            ),
        )
    )


def q_distinct_on(spark, sf_dir):
    """SELECT DISTINCT ON (cluster) analog (Storage.java:1234):
    first lineitem per order by linenumber."""
    li = _t(spark, sf_dir, "lineitem")
    # l_linenumber repeats within an order in the synthetic data — the
    # extra keys make the pick deterministic across engines.
    # r13: row_number window → one combinable min(struct) over the
    # same (non-null) sort keys: identical row pick, but map-side
    # partial aggregation replaces the full sort the window pays and
    # the exchange carries one row per order, not per lineitem
    # (guide §2.3)
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.min(
                F.struct("l_linenumber", "l_partkey", "l_extendedprice")
            ).alias("_m")
        )
        .select(
            "l_orderkey",
            F.col("_m.l_linenumber").alias("l_linenumber"),
            F.col("_m.l_partkey").alias("l_partkey"),
            _cents(F.col("_m.l_extendedprice")).alias("price_cents"),
        )
    )


KEYSET_FROM = "2024-01-03 00:00:00"
KEYSET_UNTIL = "2024-01-06 00:00:00"


def q_keyset_page(spark, sf_dir):
    """OAI-style keyset pagination (reference OaiService.java:170-191):
    (ts, id) >= (from, id0), ts <= until, ordered, limited."""
    ev = _t(spark, sf_dir, "events")
    page = keyset_page(
        ev, "ts", "event_id", KEYSET_FROM, 0, KEYSET_UNTIL, limit=2000
    )
    return page.select(
        "event_id",
        F.date_format("ts", TS_FMT_SPARK).alias("ts_str"),
        "event_type",
        "user_id",
    )


def q_anti_join(spark, sf_dir):
    """NOT-EXISTS guard shape (reference Storage.java:578-586):
    customers with no orders."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(
            orders.select(F.col("o_custkey").alias("c_custkey")),
            "c_custkey",
            "left_anti",
        )
        .select("c_custkey", "c_name")
    )


def q_semi_join(spark, sf_dir):
    """EXISTS shape: customers with at least one finished order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders.filter(F.col("o_orderstatus") == "F").select(
            F.col("o_custkey").alias("c_custkey")
        ),
        "c_custkey",
        "left_semi",
    ).select("c_custkey", "c_name")


def q_three_table_join(spark, sf_dir):
    """3-table cluster-materialization join shape
    (reference Storage.java:626-649): orders ⋈ customer ⋈ nation, with
    the small dims broadcast."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").withColumnRenamed(
        "n_nationkey", "c_nationkey"
    )
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), "o_custkey")
        .join(F.broadcast(nation), "c_nationkey")
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"),
        )
    )


def q_cluster_histogram(spark, sf_dir):
    """matchkey-stats histogram (reference Storage.java:881-965):
    distribution of orders-per-customer with ≤3 sample ids."""
    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    return (
        per.groupBy("n_orders")
        .agg(
            F.count("*").alias("n_customers"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.array_sort(F.collect_list("o_custkey")), 1, 3),
                    lambda x: x.cast("string"),
                ),
            ).alias("sample_custkeys"),
        )
    )


def q_facets(spark, sf_dir):
    """facet counts (reference resultInfo facets scaffolding,
    Storage.java:1115-1157)."""
    orders = _t(spark, sf_dir, "orders")

    def facet(col):
        return orders.groupBy(F.col(col).alias("facet_value")).agg(
            F.count("*").alias("n")
        ).select(F.lit(col).alias("facet_type"), "facet_value", "n")

    return facet("o_orderstatus").unionByName(facet("o_orderpriority"))


def q_collect_set(spark, sf_dir):
    """set-semantics dedup of values (HashSet in Storage.java:356-358):
    distinct sorted order priorities per customer."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_set("o_orderpriority"))
        ).alias("priorities")
    )


# --------------------------------------------------------------------
# the signature operator: connected-component clustering
# --------------------------------------------------------------------

def q_cluster_cc(spark, sf_dir):
    """Connected components over a bipartite record↔value graph
    (SURVEY §2.7). Deterministic synthetic pools: every customer emits
    value g10:<custkey/10> and g20:<custkey/20>; the g20 value merges
    pairs of g10 groups → components of exactly 20 — exercising the
    multi-value merge semantics end-to-end through cluster_all_pools."""
    cust = _t(spark, sf_dir, "customer")
    node = F.lpad(F.col("c_custkey").cast("string"), 12, "0")
    edges = cust.select(
        node.alias("global_id"),
        F.lit("grp").alias("match_key_config_id"),
        F.concat(
            F.lit("g10:"), F.floor(F.col("c_custkey") / 10).cast("string")
        ).alias("match_value"),
    ).unionByName(
        cust.select(
            node.alias("global_id"),
            F.lit("grp").alias("match_key_config_id"),
            F.concat(
                F.lit("g20:"), F.floor(F.col("c_custkey") / 20).cast("string")
            ).alias("match_value"),
        )
    )
    # one g10 + one g20 edge per customer — distinct by construction,
    # so CC's defensive dedup shuffle is skipped (r13 optimization;
    # labels are min-aggregated, duplicates could not change them)
    assignments = cluster_all_pools(edges, dedupe_edges=False)
    return assignments.select(
        F.col("global_id").cast("long").alias("record_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


# --------------------------------------------------------------------
# text analysis / dedup / similarity (training-data pipeline operators)
# --------------------------------------------------------------------

def q_token_stats(spark, sf_dir):
    """Per-document token statistics PLUS within-document repetition
    signals (Gopher-style) in one contract row — pipeline/text.py
    text_metrics (single-pass composition of token_stats +
    repetition_stats; merged because the driver records at most 50
    CORRECTNESS queries, both operators stay hash-checked)."""
    return tx.text_metrics(_t(spark, sf_dir, "documents"))


def q_bpe_tokens(spark, sf_dir):
    """BPE-ish token counting (brief: 'whitespace + a BPE-ish regex'):
    GPT-2 pre-tokenizer matches, whitespace runs excluded —
    pipeline/text.py bpe_token_stats."""
    return tx.bpe_token_stats(_t(spark, sf_dir, "documents"))


def q_quality(spark, sf_dir):
    """Quality scoring PLUS n-gram-heuristic language ID in one
    contract row — pipeline/text.py quality_langid (one narrow
    shuffle-free projection; merged for the 50-query driver cap, both
    operators stay hash-checked)."""
    return tx.quality_langid(_t(spark, sf_dir, "documents"))


def q_fingerprint(spark, sf_dir):
    return tx.fingerprint(_t(spark, sf_dir, "documents"))


def _lang_tokens(spark, sf_dir):
    """(lang, v) exploded token rows of the documents table — THE
    tokenization all three sketch register queries share (the fused
    contract result hash-depends on the copies staying identical, so
    there is exactly one copy)."""
    from mod_reservoir_spark.pipeline.spread import spread_input

    # the register builders hash every exploded token (1 HLL + depth
    # CM md5s each) in the stage this explode pipelines into — spread
    # a single-split scan so that work is not one task (guide §2.5)
    docs = spread_input(_t(spark, sf_dir, "documents"))
    return docs.select(
        "lang", F.explode(F.split(F.lower("text"), r"\s+")).alias("v")
    ).filter(F.col("v") != "")


def q_hll_registers(spark, sf_dir):
    """Deterministic HyperLogLog registers for distinct tokens per
    language — pipeline/sketches.py (engine-reproducible sketch: the
    oracle builds byte-identical registers)."""
    from mod_reservoir_spark.pipeline import sketches as sk

    toks = _lang_tokens(spark, sf_dir)
    return sk.hll_registers(toks, "v", ("lang",), m=512)


def q_cm_registers(spark, sf_dir):
    """Deterministic Count-Min registers for token frequencies per
    language — pipeline/sketches.py (mergeable frequency sketch,
    byte-identical across engines)."""
    from mod_reservoir_spark.pipeline import sketches as sk

    toks = _lang_tokens(spark, sf_dir)
    return sk.cm_registers(toks, "v", ("lang",), depth=4, width=256)


def q_sketch_registers(spark, sf_dir):
    """HyperLogLog + Count-Min register tables in one contract result,
    normalized to (sketch, lang, k1, k2, v): hll → (bucket, 0, r),
    cm → (d, cell, c). One query because the driver records at most 50
    CORRECTNESS rows; both sketches stay hash-checked row-for-row.

    Genuinely SINGLE-PASS (unlike a union of the two register queries,
    which scans and re-tokenizes the corpus twice): each token emits
    its 1 HLL + depth CM register contributions in one explode, and one
    map-side-combinable shuffle aggregates both — max(rank) feeds the
    hll rows, count(*) the cm rows."""
    from mod_reservoir_spark.pipeline import sketches as sk

    toks = _lang_tokens(spark, sf_dir)
    bucket, rank = sk.hll_bucket_rank("v", 512)
    entries = [
        F.struct(
            F.lit("hll").alias("sketch"),
            bucket.cast("long").alias("k1"),
            F.lit(0).cast("long").alias("k2"),
            rank.cast("long").alias("rank"),
        )
    ] + [
        F.struct(
            F.lit("cm").alias("sketch"),
            F.lit(d).cast("long").alias("k1"),
            sk.cm_cell("v", d, 256).cast("long").alias("k2"),
            F.lit(None).cast("long").alias("rank"),
        )
        for d in range(4)
    ]
    rows = toks.select(
        "lang", F.explode(F.array(*entries)).alias("e")
    ).select("lang", "e.*")
    return (
        rows.groupBy("sketch", "lang", "k1", "k2")
        .agg(
            F.max("rank").alias("_mr"),
            F.count("*").cast("long").alias("_c"),
        )
        .select(
            "sketch",
            "lang",
            "k1",
            "k2",
            F.when(F.col("sketch") == "hll", F.col("_mr"))
            .otherwise(F.col("_c"))
            .cast("long")
            .alias("v"),
        )
    )


def q_quality_filter(spark, sf_dir):
    """Composite Gopher-style keep/drop with audit reasons —
    pipeline/text.py quality_filter."""
    return tx.quality_filter(_t(spark, sf_dir, "documents"))


def q_pack_shards(spark, sf_dir):
    """Deterministic training-shard layout: per-language greedy
    sequential packing into 2000-token shards —
    pipeline/sampling.py pack_shards."""
    return smp.pack_shards(
        _t(spark, sf_dir, "documents"), shard_tokens=2000
    )


def q_pii_scrub(spark, sf_dir):
    """PII redaction (emails/IPs/phones) with per-class counts and the
    scrubbed-text md5 — pipeline/text.py pii_scrub."""
    return tx.pii_scrub(_t(spark, sf_dir, "documents"))


_SIG_TABLE_CACHE: dict[str, str] = {}


def q_minhash_incremental(spark, sf_dir):
    """Incremental near-dup: pairs touching the 'new batch' (odd
    doc_ids) against the corpus (even doc_ids) without the
    corpus×corpus candidate join — pipeline/dedup.py
    minhash_lsh_pairs_incremental, driven through the MAINTAINED
    corpus signature table (the production form): the corpus (hsh,
    sig) rows are built once per sf_dir and re-read from parquet on
    later calls, so repeated runs measure the true increment cost —
    new-batch signatures + bucket join — not a corpus re-shingle.
    Output values are identical either way (equivalence-tested)."""

    docs = _t(spark, sf_dir, "documents")
    path = _SIG_TABLE_CACHE.get(sf_dir)
    if path is None:
        path = _scratch_dir("dedup_sigs_") + "/sigs"
        dd.signature_table(
            docs.filter(F.col("doc_id") % 2 == 0),
            num_hashes=16,
            shingle_n=2,
        ).write.parquet(path)
        _SIG_TABLE_CACHE[sf_dir] = path
    return dd.minhash_lsh_pairs_incremental(
        docs.filter(F.col("doc_id") % 2 == 1),
        corpus_sigs=spark.read.parquet(path),
        num_hashes=16,
        bands=4,
        shingle_n=2,
        threshold_ppm=300000,
    )


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: distinct 8-gram overlap of every
    document against a benchmark corpus (stand-in: the deterministic
    doc_id % 97 == 0 subset) — pipeline/text.py contamination; the
    benchmark n-gram set broadcasts."""
    docs = _t(spark, sf_dir, "documents")
    return tx.contamination(
        docs, docs.filter(F.col("doc_id") % 97 == 0), n=8
    )


def q_stratified_sample(spark, sf_dir):
    """Training-mix quota sampling: ≤ 40 docs per language in the
    deterministic md5(doc_id) shuffle order — pipeline/sampling.py."""
    return smp.stratified_sample(
        _t(spark, sf_dir, "documents"), ("lang",), 40
    )


def q_token_budget(spark, sf_dir):
    """Per-language token budgeting: docs in md5 shuffle order until
    2000 cumulative tokens — pipeline/sampling.py."""
    return smp.token_budget_sample(
        _t(spark, sf_dir, "documents"), budget_tokens=2000
    )


def q_winnow(spark, sf_dir):
    """Winnowing (MOSS) rolling-hash fingerprints — pipeline/text.py
    winnow_fingerprints."""
    return tx.winnow_fingerprints(_t(spark, sf_dir, "documents"), k=5, w=4)


def q_winnow_pairs(spark, sf_dir):
    """Containment candidates from shared winnowed fingerprints
    (df-cap blocked equi-join — no all-pairs stage)."""
    return tx.winnow_pairs(
        _t(spark, sf_dir, "documents"),
        k=5, w=4, max_block_df=30, threshold_ppm=400000,
    )


def q_dedup_exact(spark, sf_dir):
    return dd.exact_duplicates(_t(spark, sf_dir, "documents"))


def q_jaccard_pairs(spark, sf_dir):
    return dd.jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        threshold_ppm=400000,
        max_block_df=30,
        shingle_n=1,
    )


def q_minhash_signatures(spark, sf_dir):
    sig = dd.minhash_signatures(
        _t(spark, sf_dir, "documents"), num_hashes=16, shingle_n=2
    )
    return sig.select(
        "doc_id",
        F.concat_ws(
            ",", F.transform(F.col("sig"), lambda x: x.cast("string"))
        ).alias("sig_csv"),
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    return dd.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        num_hashes=16,
        bands=4,
        shingle_n=2,
        threshold_ppm=300000,
    )


def q_near_dedup_keep(spark, sf_dir):
    """Near-dedup APPLICATION: connected components over the verified
    MinHash-LSH pair graph, min-doc_id keeper per component — the
    engine's clustering CC powering the pipeline dedup
    (pipeline/dedup.py near_dedup_keep). Oracle: recursive-CTE
    reachability over the same pair SQL."""
    return dd.near_dedup_keep(
        _t(spark, sf_dir, "documents"),
        num_hashes=16,
        bands=4,
        shingle_n=2,
        threshold_ppm=300000,
    )


def q_simhash(spark, sf_dir):
    return dd.simhash(_t(spark, sf_dir, "documents"), bits=24)


def q_simhash_pairs(spark, sf_dir):
    # 3 bands of 8 bits guarantee recall at hamming <= 2 (pigeonhole,
    # n_bands >= max_hamming+1); 8-bit buckets keep per-band candidate
    # fan-in bounded at scale (256 buckets/band).
    return dd.simhash_near_pairs(
        _t(spark, sf_dir, "documents"), bits=24, max_hamming=2, n_bands=3
    )


def q_embedding_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return sim.cosine_topk(emb, queries, k=5).withColumnRenamed("rank", "rnk")


def q_embedding_lsh_self(spark, sf_dir):
    """Self-join ANN (queries == corpus) through the fully-distributed
    path — no driver collect of the query set (VERDICT r1 #6)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.lsh_topk_distributed(
        emb, emb, k=3, n_planes=10, n_tables=4
    ).withColumnRenamed("rank", "rnk")


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (the dedup-by-ANN
    primitive from the brief): LSH-bucketed candidates, exact-cosine
    verify, threshold filter — pipeline/similarity.py
    embedding_near_dup. Oracle replicates the blocking (like
    simhash_pairs), so recall is part of the checked contract."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.embedding_near_dup(
        emb, threshold=0.3, n_planes=10, n_tables=4
    )


def q_embedding_ivf_topk(spark, sf_dir):
    """IVF ANN (SURVEY/brief: 'IVF or LSH-bucketed variant as the
    scale path'): deterministic seed centroids, nprobe cell probing,
    exact re-score — pipeline/similarity.py ivf_topk."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return sim.ivf_topk(
        emb, queries, k=5, n_centroids=16, nprobe=4
    ).withColumnRenamed("rank", "rnk")


# PQ contract shape: m=8 subspaces of dsub=8 dims, ksub=8 centroids,
# ONE unrolled Lloyd update — small enough that the oracle can derive
# the codebooks from the embeddings view itself (seeds = subvectors of
# the 8 smallest vec_ids), so the SQL is fully self-contained.
PQ_M = 8
PQ_KSUB = 8


def q_pq_codes(spark, sf_dir):
    """PQ storage rows (pipeline/pq.py): per-subspace Lloyd (ONE
    update over deterministic smallest-id seeds) then nearest-sub-
    centroid encoding — the m-byte form a 100 TB vector corpus ships
    in. The oracle unrolls seed selection, round-6 L2 assignment, the
    per-dimension mean update (empty cells keep their seed) and the
    re-encode entirely from the embeddings view. Emitted as exploded
    scalar (vec_id, sub, code) rows — the kmeans_train convention —
    because the driver's canonicalizer cannot hash array cells."""
    emb = _t(spark, sf_dir, "embeddings")
    cb, _hist = pqm.pq_train(emb, m=PQ_M, ksub=PQ_KSUB, iterations=1)
    return pqm.pq_encode(emb, cb).select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    ).select(
        "vec_id",
        F.col("sub").cast("long").alias("sub"),
        F.col("code").cast("long").alias("code"),
    )


def q_pq_adc_topk(spark, sf_dir):
    """ADC serving from PQ codes only (pipeline/pq.py pq_topk): the
    query LUT of subspace inner products + sum-of-m-entries scoring,
    approximate-cosine top-5 — never reconstructing a vector. Same
    one-update codebooks as q_pq_codes; oracle recomputes LUT, the
    |centroid|² table and the ADC ranking in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    cb, _hist = pqm.pq_train(emb, m=PQ_M, ksub=PQ_KSUB, iterations=1)
    codes = pqm.pq_encode(emb, cb)
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return pqm.pq_topk(codes, queries, cb, k=5).withColumnRenamed(
        "rank", "rnk"
    )


def _q6(x: float) -> int:
    """Half-away-from-zero fixed-point quantization to 1e-6 units —
    matches DuckDB round() so both engines emit identical BIGINTs."""
    import math

    return (
        int(math.floor(x * 1e6 + 0.5))
        if x >= 0
        else -int(math.floor(-x * 1e6 + 0.5))
    )


KMEANS_K = 8
KMEANS_ITERS = 3


def q_kmeans_train(spark, sf_dir):
    """Distributed Lloyd training pinned end-to-end: final centroids
    (quantized to 1e-6) and the per-iteration inertia history as
    (cell, dim, q6) rows; inertia rows use cell=-1, dim=iteration.
    Assignment scores are rounded to 6 decimals inside the operator
    (cross-engine tie behavior), so the unrolled DuckDB Lloyd oracle
    reproduces the identical trajectory — pipeline/similarity.py
    kmeans_train."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids, history = sim.kmeans_train(
        emb, n_centroids=KMEANS_K, iterations=KMEANS_ITERS
    )
    rows = [
        (c, d, _q6(v))
        for c, cv in enumerate(centroids)
        for d, v in enumerate(cv)
    ]
    rows += [(-1, i, _q6(h)) for i, h in enumerate(history)]
    return spark.createDataFrame(rows, "cell long, dim long, q6 long")


def q_embedding_lsh_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return sim.lsh_topk(emb, queries, k=5, n_planes=10, n_tables=4).withColumnRenamed(
        "rank", "rnk"
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal decode plumbing end-to-end with the deterministic
    fake decoder (sha-derived metadata — media libs not in container);
    the oracle recomputes the same bytes from sha256 hex in SQL."""
    from mod_reservoir_spark.pipeline import multimodal as mm

    docs = _t(spark, sf_dir, "documents")
    blob = F.col("text").cast("binary")
    media = mm.to_media_table(docs, "doc_id", blob, "image", "image/png")
    feats = mm.extract_features(media, decoder=mm.fake_decode)
    # opaque-binary metadata columns (formerly the multimodal_binary
    # contract query — folded in for the 50-query driver cap)
    meta = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.length(blob).cast("long").alias("n_bytes"),
        F.md5(blob).alias("content_md5"),
        F.col("source").alias("media_source"),
    )
    return feats.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "content_sha256",
    ).join(meta, "media_id")


def q_multimodal_resize(spark, sf_dir):
    """Resize plumbing end-to-end: fake decoder for source geometry,
    exact-integer aspect fit into 100x100, fake resampler whose payload
    is a reproducible function of (source sha, output dims) — the
    oracle recomputes dims and payload hash in SQL."""
    from mod_reservoir_spark.pipeline import multimodal as mm

    docs = _t(spark, sf_dir, "documents")
    media = mm.to_media_table(
        docs, "doc_id", F.col("text").cast("binary"), "image", "image/png"
    )
    out = mm.resize_images(
        media, 100, 100, decoder=mm.fake_decode, resizer=mm.fake_resize
    )
    return out.select(
        "media_id",
        F.col("src_width").cast("long").alias("src_width"),
        F.col("src_height").cast("long").alias("src_height"),
        F.col("out_width").cast("long").alias("out_width"),
        F.col("out_height").cast("long").alias("out_height"),
        "n_bytes_out",
        "resized_sha256",
    )


# --------------------------------------------------------------------
# event-stream analytics (streaming concerns batch-checked)
# --------------------------------------------------------------------

SESSION_GAP_US = 30 * 60 * 1000000


def q_sessionize(spark, sf_dir):
    """Sessionization (gap > 30 min starts a new session) — the batch
    shape of streaming session windows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    with_gap = ev.withColumn(
        "_new",
        F.when(
            (us - F.lag(us).over(w)) > SESSION_GAP_US, 1
        ).otherwise(F.when(F.lag(us).over(w).isNull(), 1).otherwise(0)),
    )
    with_sess = with_gap.withColumn(
        "_sess",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_sess = with_sess.groupBy("user_id", "_sess").agg(
        F.count("*").alias("n_events")
    )
    return per_sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.sum("n_events").alias("total_events"),
    )


def q_hourly_rollup(spark, sf_dir):
    """Tumbling-window aggregation (batch shape of the streaming
    windowed agg)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), TS_FMT_SPARK).alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(_cents(F.col("value"))).alias("value_cents"),
        )
    )


def q_topk_per_type(spark, sf_dir):
    """Top-3 users by total value per event type (top-k-per-group)."""
    ev = _t(spark, sf_dir, "events")
    totals = ev.groupBy("event_type", "user_id").agg(
        F.sum(_cents(F.col("value"))).alias("total_cents")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("total_cents").desc(), F.col("user_id").asc()
    )
    return (
        totals.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "user_id", "total_cents", F.col("rank").alias("rnk"))
    )


def q_cluster_members(spark, sf_dir):
    """Full cluster assembly output shape (ClusterBuilder analog,
    SURVEY §1.4) on the synthetic CC pools: one row per cluster with
    member count and the deterministically sorted member list."""
    assignments = q_cluster_cc(spark, sf_dir)
    return (
        assignments.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("record_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("member_csv"),
        )
    )


def q_json_props(spark, sf_dir):
    """Schema-on-read JSON access (the payload-access pattern,
    SURVEY §1.2): aggregate a JSON property of events.props."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(F.when(k.isNotNull(), 1)).alias("n_with_k"),
    )


def q_running_total(spark, sf_dir):
    """Cumulative window aggregation per user over event time."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("cum_events"),
        F.sum(_cents(F.col("value"))).over(w).alias("cum_cents"),
    )


def q_asof_join(spark, sf_dir):
    """AS-OF join, the single-shuffle window formulation: every
    'purchase' event is attributed to the user's most recent prior (or
    simultaneous-with-tiebreak) 'click'. Spark has no asof-join
    operator; the scalable expression is ONE window over the unioned
    stream — partition by the join key, order by event time, carry the
    last click's id/ts forward with last_value(ignoreNulls) — instead
    of a per-row range join that explodes at 100×. Late/clickless
    purchases surface with NULL click columns (kept, like a left asof
    join)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_click = F.col("event_type") == "click"
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(is_click, F.col("event_id")).alias("click_id_src"),
        F.when(is_click, F.col("ts")).alias("click_ts_src"),
    )
    joined = tagged.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.last("click_id_src", ignorenulls=True).over(w).alias("click_id"),
        F.last("click_ts_src", ignorenulls=True).over(w).alias("click_ts"),
    )
    return (
        joined.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            "click_id",
            F.when(
                F.col("click_ts").isNotNull(),
                F.unix_micros("ts") - F.unix_micros("click_ts"),
            ).alias("lag_us"),
        )
    )


RANGE_WINDOW_US = 5 * 60 * 1000000


def q_range_join(spark, sf_dir):
    """RANGE (interval) join, bin-bucketed: for every 'error' event,
    how many of the same user's 'click' events fall within ±5 minutes.
    A naive inequality join plans as a nested-loop at any scale; the
    scalable expression bins event time into window-sized buckets,
    replicates the probe side into its 3 adjacent buckets, equi-joins
    on (user_id, bucket) and verifies the exact range on the bounded
    candidates — candidate count is O(events × bucket occupancy), the
    same blocked-candidates silhouette as the dedup joins
    (plan-guarded: no nested-loop/cartesian anywhere)."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"), "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    err_us = F.unix_micros("ts")
    err_bucket = F.floor(err_us / RANGE_WINDOW_US).cast("long")
    probe = errors.withColumn(
        "bucket",
        F.explode(
            F.array(err_bucket - 1, err_bucket, err_bucket + 1)
        ),
    )
    build = clicks.withColumn(
        "bucket", F.floor(F.unix_micros("cts") / RANGE_WINDOW_US).cast("long")
    )
    nearby = (
        probe.join(build, ["user_id", "bucket"])
        .filter(
            F.abs(F.unix_micros("cts") - F.unix_micros("ts"))
            <= RANGE_WINDOW_US
        )
        .groupBy("err_id")
        .agg(F.count("*").alias("n_nearby_clicks"))
    )
    return (
        errors.join(nearby, "err_id", "left")
        .fillna(0, ["n_nearby_clicks"])
        .select("user_id", "err_id", "n_nearby_clicks")
    )


# --------------------------------------------------------------------
# round-5 contract rotation: session-2 pipeline operators promoted to
# hard driver rows (VERDICT r4 "Next round #1"); the relational rows
# they displaced moved to retired_queries()/retired_oracle_sql() and
# stay pinned by tests/test_retired.py.
# --------------------------------------------------------------------

def q_curate_funnel(spark, sf_dir):
    """The composed curation funnel end-to-end — quality filter →
    exact dedup → near dedup (MinHash LSH + CC keeper) → benchmark
    decontamination — reported as the PER-DOCUMENT first-drop
    attribution (doc_id, stage): every stage is individually
    driver-checked elsewhere; this row pins their ORDER-DEPENDENT
    composition document-by-document against a single recursive-CTE
    oracle (strictly stronger than the histogram, same plan).
    Benchmark stand-in: the deterministic doc_id % 97 == 0 slice."""
    from mod_reservoir_spark.pipeline import curate as cur

    docs = _t(spark, sf_dir, "documents")
    ledger = cur.curate(
        docs,
        benchmark=docs.filter(F.col("doc_id") % 97 == 0),
        near_kwargs=dict(
            num_hashes=16, bands=4, shingle_n=2, threshold_ppm=300000
        ),
        scrub=False,  # attribution never reads text; keep the plan narrow
    )
    return ledger.select(
        "doc_id",
        F.coalesce("drop_stage", F.lit("kept")).alias("stage"),
    )


def q_line_dedup(spark, sf_dir):
    """C4-style corpus-wide line dedup (first occurrence owns a line;
    map-side-combinable min-struct ownership, never a Window) —
    pipeline/dedup.py line_dedup, tokens-as-lines on the corpus."""
    return dd.line_dedup(
        _t(spark, sf_dir, "documents"), line_sep=" ", min_chars=1
    )


def q_span_stats(spark, sf_dir):
    """ExactSubstr-style duplicated k-token-window fraction per doc —
    pipeline/dedup.py duplicate_span_stats (two-level combinable agg
    on window hashes)."""
    return dd.duplicate_span_stats(_t(spark, sf_dir, "documents"), k=4)


def q_ngram_counts(spark, sf_dir):
    """Corpus n-gram top-k (occurrence + doc frequency, deterministic
    tie-break) — pipeline/text.py ngram_counts."""
    return tx.ngram_counts(_t(spark, sf_dir, "documents"), n=3, k=50)


def q_tfidf_top_terms(spark, sf_dir):
    """Per-doc TF-IDF top-k (smoothed sklearn idf, e6-quantized
    scores) — pipeline/text.py tfidf_top_terms."""
    return tx.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def q_bm25_search(spark, sf_dir):
    """Okapi BM25 top-k corpus search (Lucene idf form, e6-quantized
    scores, query-term-filtered postings before explode) —
    pipeline/text.py bm25_search."""
    return tx.bm25_search(
        _t(spark, sf_dir, "documents"), "spark window merge", k=25
    )


def q_unigram_logprob(spark, sf_dir):
    """Self-perplexity quality scores under the corpus unigram model
    (1e6-scaled mean NLL) — pipeline/text.py
    unigram_logprob_scores."""
    return tx.unigram_logprob_scores(_t(spark, sf_dir, "documents"))


def q_bloom_registers(spark, sf_dir):
    """Bloom filter as a deterministic md5-derived set-bit register
    table — pipeline/sketches.py bloom_registers."""
    from mod_reservoir_spark.pipeline import sketches as sk

    return sk.bloom_registers(
        _t(spark, sf_dir, "documents"), "text", n_hashes=4, m_bits=4096
    )


def q_mixture_sample(spark, sf_dir):
    """Weighted training-mix draw with exact largest-remainder quotas
    in the deterministic md5 shuffle order — pipeline/sampling.py
    mixture_sample ('zz' exercises the absent-stratum rule)."""
    return smp.mixture_sample(
        _t(spark, sf_dir, "documents"), MIXTURE_WEIGHTS, MIXTURE_N
    )


def q_split_assign(spark, sf_dir):
    """Deterministic hash train/val/test splitting (28-bit md5 cut
    points; assignment never changes as the corpus grows) —
    pipeline/sampling.py split_assign."""
    return smp.split_assign(
        _t(spark, sf_dir, "documents"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )


def q_dsir_weights(spark, sf_dir):
    """DSIR log importance weights (hashed uni+bigram bucket models,
    target = doc_id < 50 slice, exact long per-doc sums) —
    pipeline/sampling.py dsir_weights."""
    docs = _t(spark, sf_dir, "documents")
    return smp.dsir_weights(docs, docs.filter("doc_id < 50"), buckets=1009)


def q_chunk_text(spark, sf_dir):
    """RAG-style sliding-window chunking (64-token windows, 16-token
    overlap, tail-merge rule) — pipeline/text.py chunk_text."""
    return tx.chunk_text(
        _t(spark, sf_dir, "documents"), max_tokens=64, overlap=16
    )


def q_perplexity_buckets(spark, sf_dir):
    """CCNet-style per-language head/middle/tail perplexity banding
    (unigram self-perplexity rank positions, exact integer cuts) —
    pipeline/text.py perplexity_buckets."""
    return tx.perplexity_buckets(_t(spark, sf_dir, "documents"))


def q_near_contamination(spark, sf_dir):
    """Paraphrase-level benchmark decontamination: MinHash-LSH
    near-dup flags of every corpus doc against the benchmark
    (doc_id % 97 == 0 slice), benchmark-side-driven candidate join —
    pipeline/dedup.py near_contamination."""
    docs = _t(spark, sf_dir, "documents")
    return dd.near_contamination(
        docs,
        benchmark=docs.filter(F.col("doc_id") % 97 == 0),
        num_hashes=16,
        bands=4,
        shingle_n=2,
        threshold_ppm=300000,
    )


MIXTURE_WEIGHTS = {"en": 0.4, "es": 0.2, "fr": 0.2, "de": 0.15, "zz": 0.05}
MIXTURE_N = 200


# --------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------

# --------------------------------------------------------------------
# round-6 promotions: retrieval serving (hybrid RRF, indexed BM25),
# quantized ANN, SemDeDup, ExactSubstr span surgery, distributed
# classifier training, and the web-extraction/report stages. Where the
# synthetic corpus lacks the phenomenon an operator exists for (no
# URLs, no non-NFC text, no repeated 8-grams, no >=0.95-cosine pairs),
# the contract query PLANTS it with a deterministic Spark expression
# mirrored verbatim in the oracle — both engines see identical input.

_BM25_INDEX_CACHE: dict[str, str] = {}

# 12 tokens ending every fifth document: the five fully-inside 8-token
# windows repeat across planted docs (boundary windows stay unique)
_SPAN_FOOTER = (
    " this boilerplate footer block repeats across many documents"
    " verbatim for span surgery"
)


def q_hybrid_search(spark, sf_dir):
    """Hybrid lexical+semantic retrieval, integer reciprocal-rank
    fusion (Cormack et al. 2009) — pipeline/similarity.py
    hybrid_search: BM25 top-k_each + brute cosine top-k_each, fused by
    1e9 // (60 + rank) on longs. Oracle composes both arms and the
    fusion in one SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter("vec_id = 0").select("embedding").first()[0]
    return sim.hybrid_search(
        _t(spark, sf_dir, "documents"),
        emb,
        "spark window merge",
        qvec,
        k=20,
        k_each=50,
        query_id=0,
    )


def q_lsh_topk_quantized(spark, sf_dir):
    """ANN served entirely from the int8 storage form (LSH buckets AND
    re-score read only the codes column; float only on the query side)
    — pipeline/similarity.py lsh_topk_quantized over
    quantize_embeddings. Oracle rebuilds the identical chain: quantize
    -> plane signs on codes -> bucket join -> cosine(query_float,
    codes)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.lsh_topk_quantized(
        sim.quantize_embeddings(emb),
        emb.filter("vec_id % 50 = 0"),
        k=5,
        n_planes=10,
        n_tables=4,
    ).withColumnRenamed("rank", "rnk")


def q_bm25_indexed(spark, sf_dir):
    """BM25 served from the MATERIALIZED inverted index through a real
    parquet round-trip (pipeline/text.py build_text_index ->
    write_text_index term-sorted layout -> bm25_search_indexed with
    the pushed term IN postings prune) — the 100 TB serving shape.
    The index is written once per sf_dir and re-read on later calls
    (the minhash_incremental maintained-table precedent), so repeated
    runs measure serving, not indexing."""

    path = _BM25_INDEX_CACHE.get(sf_dir)
    if path is None:
        path = _scratch_dir("bm25_idx_") + "/idx"
        postings, stats = tx.build_text_index(
            _t(spark, sf_dir, "documents")
        )
        tx.write_text_index(postings, stats, path)
        _BM25_INDEX_CACHE[sf_dir] = path
    p, s = tx.read_text_index(spark, path)
    return tx.bm25_search_indexed(p, s, "filter join scan", k=25)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) in its SCALE configuration —
    r10 VERDICT Next #2: the oracle-checked shape is now the one
    you'd run at 100 TB. n_clusters="auto" sizes cells to ~64
    vectors (C = max(16, ceil(n/64)), pipeline/similarity.py
    auto_clusters), which holds per-cell pair cost constant as the
    corpus grows — the fixed-C=8 baseline (quadratic pair space by
    design, the only sf10 non-survivor in SCALE.md's 100× sweep)
    moved to the retired sweep as `semantic_dedup_c8`. The corpus
    has no natural >=0.95-cosine pairs (max 0.51), so scaled copies
    of every 25th vector are planted (cosine to the parent is
    exactly 1.0 — scale invariance); oracle derives the SAME C from
    count(*) and unrolls Lloyd k-means -> final-centroid assignment
    -> within-cell pairs -> recursive-CTE components."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias(
            "embedding"
        ),
    )
    return sim.semantic_dedup(
        emb.select("vec_id", "embedding").unionByName(planted),
        n_clusters="auto",
        threshold=0.95,
        iterations=2,
    )


def q_semantic_dedup_c8(spark, sf_dir):
    """The pre-r11 fixed-C=8 SemDeDup baseline (retired rotation 7):
    same planted drop-set, C pinned at 8 — the brute-baseline role
    (quadratic within-cell pair space at fixed C), kept
    oracle-checked in the retired sweep while the live row carries
    the auto-C scale shape."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias(
            "embedding"
        ),
    )
    return sim.semantic_dedup(
        emb.select("vec_id", "embedding").unionByName(planted),
        n_clusters=8,
        threshold=0.95,
        iterations=2,
    )


def q_remove_duplicate_spans(spark, sf_dir):
    """ExactSubstr span SURGERY (Lee et al. 2022): every k-token
    window occurring more than once keeps only its first occurrence,
    covered tokens are cut, documents reassembled — pipeline/dedup.py
    remove_duplicate_spans. A shared 12-token boilerplate footer is
    planted on every fifth document (the synthetic corpus has no
    natural repeated 8-grams), mirrored verbatim in the oracle."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(_SPAN_FOOTER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return dd.remove_duplicate_spans(docs, k=8)


def q_normalize_text(spark, sf_dir):
    """Unicode NFC normalization pre-pass (composed vs decomposed
    forms hash differently — mixed-source corpora under-dedup without
    it) — pipeline/text.py normalize_text. Every third document gets
    a decomposed 'e'+U+0301 and a U+FB01 ligature appended (the
    corpus is pure ASCII): NFC recomposes the accent (changed=1) and
    leaves the ligature (compatibility-only); DuckDB nfc_normalize is
    the oracle."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" café ﬁn")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return tx.normalize_text(docs, form="NFC")


def q_domain_quality(spark, sf_dir):
    """Per-domain curation dashboard: URL extraction joined with the
    Gopher-style quality signals, rolled up by host —
    pipeline/text.py domain_quality_report. The corpus carries no
    URLs, so each document gets one derived from its source column
    (20 hosts), mirrored in the oracle."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see http://"),
            F.col("source"),
            F.lit(".example.com/p"),
        ).alias("text"),
    )
    return tx.domain_quality_report(docs)


def q_leakage_safe_split(spark, sf_dir):
    """Train/val/test assignment near-duplicates cannot straddle: CC
    groups over the MinHash-LSH pair graph, whole group assigned by
    hashing the keeper id — pipeline/sampling.py leakage_safe_split.
    Oracle: the minhash pair SQL -> recursive-CTE components -> the
    split_assign hash thresholds on keep_id."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, shingle_n=2, threshold_ppm=300000
    )
    return smp.leakage_safe_split(docs, pairs.select("doc_a", "doc_b"))


def q_logreg_train(spark, sf_dir):
    """Distributed full-batch logistic regression over hashed unigram
    features (partial gradients per Arrow batch, driver update only) —
    pipeline/classifier.py logreg_train. Positives = 'en' documents,
    negatives = the rest; 64 buckets so the oracle can unroll the
    IDENTICAL gradient-descent trajectory in SQL. Output: one row per
    feature bucket (bias last) with the micro-quantized weight."""
    from mod_reservoir_spark.pipeline import classifier as clf

    docs = _t(spark, sf_dir, "documents")
    w, _hist = clf.logreg_train(
        docs.filter("lang = 'en'"),
        docs.filter("lang <> 'en'"),
        n_max=1,
        buckets=64,
        iterations=5,
    )
    rows = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(w.tolist())],
        "bucket long, w double",
    )
    return rows.select(
        "bucket", F.round(F.col("w") * 1000000).cast("long").alias("w_e6")
    )


def q_extract_html(spark, sf_dir):
    """HTML -> main-content extraction (block model + link-density
    boilerplate drop, script/head subtrees removed) —
    pipeline/html.py extract_html_text. Each document is wrapped in a
    fixed page skeleton (heading, content paragraph, link-dense
    related-links block, script): the parser must keep exactly the
    content block; the oracle derives the same answer from the known
    structure."""
    from mod_reservoir_spark.pipeline import html as hx

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(
                "<html><head><script>var x=1;</script></head>"
                "<body><h1>Doc</h1><p>"
            ),
            F.col("text"),
            F.lit(
                '</p><div><a href="http://x.example.com/">see also more'
                " related links over here</a></div></body></html>"
            ),
        ).alias("text"),
    )
    return hx.extract_html_text(docs)


# --------------------------------------------------------------------
# round-7 promotions (rotation 3 — VERDICT r6 "Next #7")
# --------------------------------------------------------------------

_BM25_BATCH_QUERIES = [
    (0, "spark window merge"),
    (1, "filter join scan"),
    (2, "vector data stream"),
    (3, "index read write"),
    (4, "merge sort shuffle"),
    (5, "query plan cost"),
]


def q_bm25_batch(spark, sf_dir):
    """Batch retrieval against the materialized index through BOTH
    routing regimes in one contract row — pipeline/text.py
    bm25_search_batch: the broadcast path (small query sets) and the
    past-cutover shuffle-join path (max_broadcast_queries=1 forces
    the mega-batch route) must return identical rows, so the union is
    pinned against ONE per-query BM25 oracle duplicated per path."""
    path = _BM25_INDEX_CACHE.get(sf_dir)
    if path is None:
        q_bm25_indexed(spark, sf_dir)  # builds + caches the index
        path = _BM25_INDEX_CACHE[sf_dir]
    p, s = tx.read_text_index(spark, path)
    qdf = spark.createDataFrame(
        _BM25_BATCH_QUERIES, "query_id long, query string"
    )
    nq = len(_BM25_BATCH_QUERIES)
    a = tx.bm25_search_batch(p, s, qdf, k=10, n_queries=nq)
    b = tx.bm25_search_batch(
        p, s, qdf, k=10, n_queries=nq, max_broadcast_queries=1
    )
    return a.withColumn("route", F.lit("broadcast")).unionByName(
        b.withColumn("route", F.lit("shuffle"))
    )


def q_chunk_sequences(spark, sf_dir):
    """Packed fixed-length training sequences (GPT-style
    concat-and-chunk with an eos piece per document, md5 layout order,
    bounded shards, trailing partial dropped) — pipeline/tokenizer.py
    chunk_sequences over whitespace tokens. tokens joined to one
    column for the hash comparator."""
    from mod_reservoir_spark.pipeline import tokenizer as tok

    tokenized = _t(spark, sf_dir, "documents").select(
        "doc_id", tx.tokens("text").alias("pieces")
    )
    out = tok.chunk_sequences(tokenized, seq_len=64, shard_tokens=2000)
    return out.select(
        "shard_id",
        "seq_id",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.concat_ws(" ", "tokens").alias("tok_csv"),
    )


def q_bpe_train(spark, sf_dir):
    """Learned BPE merge list (Sennrich et al. 2016): ONE combinable
    word-count aggregation over the corpus, driver-side merge loop
    with lexicographic tie-break — pipeline/tokenizer.py bpe_train.
    The oracle unrolls the IDENTICAL 10-merge trajectory in SQL
    (pair counts -> best pair -> non-overlapping left-to-right rewrite
    via a wrapped-symbol string encoding)."""
    from mod_reservoir_spark.pipeline import tokenizer as tok

    merges = tok.bpe_train(
        _t(spark, sf_dir, "documents"), n_merges=10, min_count=2
    )
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, a string, b string",
    )


_WARC_FIXTURE_CACHE: dict[str, str] = {}
_WARC_DOC_CAP = 120  # bounded fixture slice: the build is a driver-
# side byte-construction step, so it must stay k-sized, never corpus-
# sized (the .collect() audit rule)


def q_warc_roundtrip(spark, sf_dir):
    """WARC index + selective range reads as one oracle-checkable
    round-trip — sources/warc.py warc_index / read_warc_slices. A
    per-record-gzip WARC is built once per sf_dir from the first
    _WARC_DOC_CAP documents (HTTP 200 responses whose payload is the
    document text); the index's (offset, length) slices then
    selectively read every 3rd record, and the decoded payloads are
    returned as doc-joinable facts (md5, byte length, status) that the
    oracle recomputes from the documents table — offsets are correct
    IFF every slice decompresses to the right payload."""
    import gzip
    import os

    from mod_reservoir_spark.sources.warc import (
        read_warc_slices,
        warc_index,
    )

    path = _WARC_FIXTURE_CACHE.get(sf_dir)
    if path is None:
        rows = sorted(
            (r.doc_id, r.text)
            for r in _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _WARC_DOC_CAP)
            .select("doc_id", "text")
            .collect()
        )
        members = []
        for doc_id, text in rows:
            body = (text or "").encode("utf-8")
            block = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
                + body
            )
            rec = (
                b"WARC/1.0\r\n"
                b"WARC-Type: response\r\n"
                + f"WARC-Record-ID: <urn:doc:{doc_id}>\r\n".encode()
                + f"WARC-Target-URI: http://example.com/{doc_id}\r\n".encode()
                + b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
                + f"Content-Length: {len(block)}\r\n\r\n".encode()
                + block
                + b"\r\n\r\n"
            )
            members.append(gzip.compress(rec))
        path = os.path.join(
            _scratch_dir("warc_fix_"), "docs.warc.gz"
        )
        with open(path, "wb") as f:
            f.write(b"".join(members))
        _WARC_FIXTURE_CACHE[sf_dir] = path

    idx = warc_index(spark, path)
    wanted = idx.filter(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long") % 3
        == 0
    )
    got = read_warc_slices(spark, wanted)
    return got.select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.md5("payload").alias("payload_md5"),
        F.length("payload").cast("long").alias("payload_len"),
        F.col("http_status").cast("long").alias("http_status"),
    )


def q_ivf_routed(spark, sf_dir):
    """The two-level (coarse-branch) assignment path under the driver
    oracle — pipeline/similarity.py ivf_assign at n_centroids=256,
    which crosses TWO_LEVEL_MIN_CELLS so the production 'auto' config
    routes through ~sqrt(C) branches (VERDICT r6 "What's wrong #3":
    previously the routed path was pytest-only). The oracle replicates
    the full deterministic plan in SQL: farthest-point branch seeding,
    4 Lloyd rounds over the centroid matrix, probe-2 branch selection,
    exact round-6 cosine within probed branches' cells — every
    decision site round-6 + lowest-id ties (similarity.py round-7)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.ivf_assign(emb, n_centroids=256)


_BM25_STREAM_CACHE: dict[str, str] = {}


def q_bm25_stream_index(spark, sf_dir):
    """The STREAMING-maintained BM25 index folded into the serving
    layout — streaming/index_stream.py stream_text_index ->
    compact_text_index. Documents are streamed as JSONL micro-batches
    (maxFilesPerTrigger=1) through the replay-safe per-batch state
    contract, compacted, and the served postings table must EXACTLY
    equal build_text_index over the corpus — which is what the SQL
    oracle computes directly. Batch composition is irrelevant to the
    fold (pure append of disjoint doc_ids + additive stats), so the
    row is deterministic however the stream chops the input."""
    import os

    from mod_reservoir_spark.streaming.index_stream import (
        compact_text_index,
        stream_text_index,
    )

    serving = _BM25_STREAM_CACHE.get(sf_dir)
    if serving is None:
        root = _scratch_dir("bm25_stream_")
        indir = os.path.join(root, "in")
        os.makedirs(indir)
        (
            _t(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .repartition(3)
            .write.mode("overwrite")
            .json(indir)
        )
        serving = os.path.join(root, "serving")
        q = stream_text_index(
            spark,
            indir,
            os.path.join(root, "ckpt"),
            os.path.join(root, "state"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        compact_text_index(spark, os.path.join(root, "state"), serving)
        _BM25_STREAM_CACHE[sf_dir] = serving
    postings, _stats = tx.read_text_index(spark, serving)
    return postings.select("term", "doc_id", "tf", "dl")



def q_semantic_dedup_routed(spark, sf_dir):
    """SemDeDup END-TO-END through the two-level ROUTED path at
    C=256 — the literal VERDICT r6 "Next #7" ask: kmeans_train (2
    Lloyd iterations, each re-planning the coarse branches over its
    CURRENT centroids and assigning through them), final routed
    assignment, within-cell round-6 cosine pairs at >= 0.95, CC
    keeper. Planted 1.5x-scaled copies of every 25th vector are the
    guaranteed drop-set (cosine exactly 1.0; scale-invariant routing
    keeps them with their parents). The oracle unrolls the ENTIRE
    chain — three full branch plans (one per iteration + final),
    routed assignments, corpus-mean Lloyd updates, pair join and
    recursive-CTE components — in one MATERIALIZED-CTE SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias(
            "embedding"
        ),
    )
    return sim.semantic_dedup(
        emb.select("vec_id", "embedding").unionByName(planted),
        n_clusters=256,
        threshold=0.95,
        iterations=2,
        two_level=True,
    )


def q_bigram_logprob(spark, sf_dir):
    """Jelinek-Mercer interpolated BIGRAM self-perplexity (1e6-scaled
    mean NLL over bigram positions) — pipeline/text.py
    ngram_logprob_scores at order 2, the word-ORDER-sensitive fluency
    signal one Markov order above the retired unigram row. Oracle
    replicates the count tables, the interpolation arithmetic and the
    rounding."""
    return tx.ngram_logprob_scores(
        _t(spark, sf_dir, "documents"), 2
    ).withColumnRenamed("n_ngrams", "n_bigrams")


def q_bigram_logprob_lang(spark, sf_dir):
    """Per-LANGUAGE Jelinek-Mercer bigram self-perplexity (the CCNet
    design: one model per language, stratum keys on every count and
    join) — pipeline/text.py one-pass combined count build
    (count-identical to ngram_count_tables(2, strata=...),
    equality-pinned with strata) + ngram_logprob_against(
    strata=("lang",)). Self-scoring, so the OOV guards never fire and
    the oracle replicates the stratified count tables and
    interpolation exactly."""
    docs = _t(spark, sf_dir, "documents")
    t, n_windows = tx.ngram_count_tables_combined_n(
        docs, 2, strata=("lang",)
    )
    return tx.ngram_logprob_against(
        docs,
        t,
        strata=("lang",),
        # measured decision, free since r11 (the table build's
        # checkpoint job IS the count) — the merge-hinted safety
        # default cost this row the bench-scale broadcast win in r10
        broadcast_tables=n_windows <= tx.LM_BROADCAST_MAX_WINDOWS,
    ).withColumnRenamed("n_ngrams", "n_bigrams")


def q_near_dedup_quality(spark, sf_dir):
    """Quality-aware near-dedup keeper (supersedes the retired
    min-doc_id row): connected components over the verified MinHash-LSH
    pair graph keeping the LONGEST member per component (keep_by=
    n_chars, ties to min doc_id) — RefinedWeb's keep-longest policy
    via pipeline/dedup.py near_dedup_keep(keep_by=...). Oracle:
    recursive-CTE reachability + ordered-aggregate argmax keeper."""
    return dd.near_dedup_keep(
        _t(spark, sf_dir, "documents"),
        num_hashes=16,
        bands=4,
        shingle_n=2,
        threshold_ppm=300000,
        keep_by="n_chars",
    )


def q_trigram_logprob(spark, sf_dir):
    """Order-3 interpolated-backoff LM self-scoring (VERDICT r7 Next
    #5 — the CCNet recipe uses a 5-gram KenLM; this raises the repo's
    perplexity gate from the JM bigram floor): p(w3|w1 w2) =
    0.6·c(w1w2w3)/c(w1w2·) + 0.3·c(w2w3)/c(w2·) + 0.1·c(w3)/T, mean
    -ln p over trigram positions ×1e6 — pipeline/text.py
    ngram_logprob_scores at order 3. Oracle unrolls all five count
    tables and the same left-associative double arithmetic."""
    return tx.ngram_logprob_scores(
        _t(spark, sf_dir, "documents"), 3
    ).withColumnRenamed("n_ngrams", "n_trigrams")


def q_ngram_logprob(spark, sf_dir):
    """Order-5 interpolated-backoff LM self-scoring — the advertised
    5-gram KenLM shape of the CCNet recipe (Wenzek et al. 2020),
    pinning the order-N scorer at its KenLM order (VERDICT r8 Next
    #2; orders 2/3 are the bigram/trigram rows): p(w5|w1..w4) =
    0.4·c5/x5 + 0.25·c4/x4 + 0.15·c3/x3 + 0.1·c2/x2 + 0.1·c(w5)/T over
    5-gram positions, mean -ln p ×1e6 — pipeline/text.py
    ngram_logprob_scores (count tables from the one-pass KenLM-shaped
    ngram_count_tables_combined_n build — A/B-measured −26 %/−41 % at
    sf0.1/sf1, counts equality-pinned). The oracle extends the trigram
    oracle mechanically: one (counts, folded-context) CTE pair per
    order, the same left-associative double arithmetic. Self-scoring
    keeps every context count ≥ 1 so plain JOINs match."""
    return tx.ngram_logprob_scores(_t(spark, sf_dir, "documents"), 5)


def q_kn_logprob(spark, sf_dir):
    """Order-5 **interpolated Kneser-Ney** LM self-scoring (VERDICT
    r11 Next #2 — the actual KenLM smoothing CCNet's production
    perplexity gate runs, vs. the JM interpolation the rest of the LM
    family pins): top order discounts raw counts by D=0.75 and routes
    the leftover mass through distinct-continuation weights; middle
    orders score CONTINUATION counts (how many distinct words precede
    the n-gram — Kneser & Ney 1995); base is the continuation unigram
    over distinct bigram types. Same 5-gram windows and count artifact
    as the ngram_logprob row (the one-pass combined prefix build), so
    the two rows differ ONLY in smoothing arithmetic —
    pipeline/text.py kn_logprob_scores, equality-pinned against an
    independent pure-Python reference incl. OOV/backoff paths in
    tests/test_kn.py. Oracle: continuation counts via
    count(DISTINCT predecessor), folds window-functioned in, discounts
    CAST to DOUBLE, the same bottom-up float recursion."""
    return tx.kn_logprob_scores(_t(spark, sf_dir, "documents"), 5)


def q_url_dedup(spark, sf_dir):
    """Crawl-first URL-level dedup (pipeline/text.py url_dedup +
    canonical_url_expr): canonicalization (fragment/www/port strip,
    tracking-param drop, query sort) with RAW passthrough for
    non-http(s) inputs (ADVICE r7: they must never collapse into one
    key), min-id ownership per canonical key. URLs are derived
    deterministically from document columns — identically in both
    engines — covering www/tracking variants that must collapse,
    plain twins, fragment-only differences and mailto passthrough."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    pages = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit("mailto:u"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"),
                F.when(F.col("doc_id") % 7 == 0, F.lit("www.")).otherwise(
                    F.lit("")
                ),
                F.col("source"),
                F.lit(".example.com/"),
                F.col("lang"),
                F.lit("/"),
                F.floor(F.col("doc_id") / 5).cast("string"),
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.lit("?utm_source=t&a=1"),
                )
                .when(F.col("doc_id") % 3 == 1, F.lit("?a=1"))
                .otherwise(F.lit("#frag")),
            )
        )
        .alias("url"),
    )
    return tx.url_dedup(pages)


# per-sf_dir maintained-state dirs for the streaming contract rows;
# every mkdtemp is registered for atexit removal (VERDICT r8 Next #6 —
# the harness convention elsewhere cleans up its scratch)
_LM_STREAM_CACHE: dict[str, str] = {}
_CURATE_STREAM_CACHE: dict[str, str] = {}
_LM_FIXED_REF_CACHE: dict[str, str] = {}


def _scratch_dir(prefix: str) -> str:
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def q_lm_stream_counts(spark, sf_dir):
    """The STREAMING-maintained LM count tables folded into serving
    shape — streaming/lm_stream.py per-batch commits + read-time fold
    (the bm25_stream_index pattern, driver-checking the maintained-
    state family's fold-equals-batch contract as an oracle row):
    documents split into 3 micro-batches, each batch's order-2
    ngram_count_tables committed as an immutable partition, and the
    folded bigram table must EXACTLY equal ngram_count_tables(2) over
    the whole corpus — which is what the SQL oracle computes directly.
    Batch composition is irrelevant (counts are additive)."""

    from mod_reservoir_spark.streaming.lm_stream import (
        _commit_ngram_counts,
        read_stream_ngram_counts,
    )

    state = _LM_STREAM_CACHE.get(sf_dir)
    if state is None:
        state = _scratch_dir("lm_stream_")
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        for b in range(3):
            batch = docs.filter(F.col("doc_id") % 3 == b)
            _commit_ngram_counts(batch, state, b, 2)
        _LM_STREAM_CACHE[sf_dir] = state
    bigrams, _unigrams = read_stream_ngram_counts(spark, state, 2)
    return bigrams.select("w1", "w2", F.col("c").alias("cb"))


def q_curate_stream(spark, sf_dir):
    """The STREAMING curation funnel folded into the batch ledger —
    streaming/curate_stream.py end-to-end as a driver row (VERDICT r8
    Next #4: the flagship composition's maintained-state face was
    pytest-only): documents split into 3 doc_id-ORDERED micro-batches
    (ordered arrival makes first-seen-wins exactly the batch min-id
    keeper), streamed through quality → exact dedup → near dedup (LSH
    + incremental CC keeper) → decontamination with per-batch state
    commits, and the accumulated ledger must equal batch ``curate()``
    document-by-document — so the oracle IS q_curate_funnel's
    recursive-CTE oracle, same parameters, same output shape. The
    JSONL staging is harness-only scaffolding; production streams
    arrive as files already."""
    import json as _json
    import os

    from mod_reservoir_spark.streaming.curate_stream import (
        read_curate_state,
        streaming_curate,
    )

    state = _CURATE_STREAM_CACHE.get(sf_dir)
    if state is None:
        root = _scratch_dir("curate_stream_")
        indir = os.path.join(root, "in")
        os.makedirs(indir)
        docs = _t(spark, sf_dir, "documents")
        ids = sorted(
            r.doc_id for r in docs.select("doc_id").collect()
        )
        cut1 = ids[len(ids) // 3]
        cut2 = ids[2 * len(ids) // 3]
        q = streaming_curate(
            spark,
            indir,
            os.path.join(root, "ckpt"),
            os.path.join(root, "state"),
            benchmark=docs.filter(F.col("doc_id") % 97 == 0),
            num_hashes=16,
            bands=4,
            shingle_n=2,
            threshold_ppm=300000,
            scrub=False,
        )
        try:
            batches = (
                docs.filter(F.col("doc_id") < cut1),
                docs.filter(
                    (F.col("doc_id") >= cut1) & (F.col("doc_id") < cut2)
                ),
                docs.filter(F.col("doc_id") >= cut2),
            )
            for b, part in enumerate(batches):
                # stage outside indir, then atomically rename in: the
                # running file source lists eagerly, and a file that
                # appears empty mid-write is marked SEEN and never
                # re-read (Spark's file-source contract requires
                # atomic appearance; measured: the in-place write
                # silently lost the whole first batch)
                staged = os.path.join(root, f"b{b}.jsonl.tmp")
                with open(staged, "w") as f:
                    for r in part.select("doc_id", "text").collect():
                        f.write(
                            _json.dumps(
                                {"doc_id": r.doc_id, "text": r.text}
                            )
                            + "\n"
                        )
                os.rename(
                    staged, os.path.join(indir, f"b{b}.jsonl")
                )
                q.processAllAvailable()
        finally:
            q.stop()
        state = os.path.join(root, "state")
        _CURATE_STREAM_CACHE[sf_dir] = state
    ledger, _fps, _sigs = read_curate_state(spark, state)
    return ledger.select(
        "doc_id",
        F.coalesce("drop_stage", F.lit("kept")).alias("stage"),
    )


def q_lm_fixed_ref(spark, sf_dir):
    """Fixed-reference / OOV LM scoring under a PERSISTED model fed by
    the streaming prefix fold — the production CCNet path (Wenzek et
    al. 2020: estimate once on a clean corpus, persist, score the
    crawl) and the one LM arithmetic no self-scoring row reaches
    (VERDICT r9 Next #1 + #4): the TRAIN half of documents
    (doc_id % 2 = 0) lands in the stream_lm_prefix state as two
    per-batch prefix-table commits (exactly what its foreachBatch
    callback does per micro-batch — the q_lm_stream_counts staging
    pattern; real-stream equality is pinned in
    tests/test_windowed_streaming.py), fold_to_model persists the
    order-3 artifact (pipeline/lm_model.py), and score_under_model
    scores the held-out EVAL half (doc_id % 2 = 1) with
    short_docs="backoff". Three eval mutations force every guard at
    any sf: doc_id % 11 == 1 truncates to the first 2 tokens (a SHORT
    doc -> one right-aligned backoff window, trigram term
    structurally absent), % 11 == 3 appends a doc_id-derived OOV
    token (unigram floor oov_ppm=1 fires, its contexts miss ->
    conditional terms 0), % 11 == 5 replaces the text with a single
    OOV token (floor + backoff in one window, NLL = ln(1e6)). The
    oracle builds the train-half count tables in SQL and LEFT-JOINs
    them to the eval windows with COALESCE-to-0 conditional terms and
    the COALESCE-to-floor unigram — the guards the self-scoring
    oracles never exercise ("plain JOINs match" no longer holds
    here)."""
    import os

    from mod_reservoir_spark.pipeline.lm_model import build_lm_prefix
    from mod_reservoir_spark.pipeline.lm_model import score_under_model
    from mod_reservoir_spark.streaming.lm_stream import fold_to_model
    from mod_reservoir_spark.streaming.state import commit

    docs = _t(spark, sf_dir, "documents")
    model = _LM_FIXED_REF_CACHE.get(sf_dir)
    if model is None:
        root = _scratch_dir("lm_fixed_ref_")
        state = os.path.join(root, "state")
        train = docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "text"
        )
        for b in range(2):
            commit(
                build_lm_prefix(
                    train.filter(F.col("doc_id") % 4 == 2 * b), 3
                ),
                os.path.join(state, "prefix"),
                b,
            )
        model = os.path.join(root, "model")
        fold_to_model(spark, state, 3, model)
        _LM_FIXED_REF_CACHE[sf_dir] = model
    did = F.col("doc_id")
    ev = docs.filter(did % 2 == 1).select(
        "doc_id",
        F.when(
            did % 11 == 1,
            F.array_join(F.slice(tx.tokens(F.col("text")), 1, 2), " "),
        )
        .when(
            did % 11 == 3,
            F.concat(
                F.col("text"), F.lit(" qzoov"), did.cast("string")
            ),
        )
        .when(
            did % 11 == 5, F.concat(F.lit("qzoov"), did.cast("string"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return score_under_model(ev, spark, model, short_docs="backoff")


def q_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ quantized serving END-TO-END (VERDICT r7 Next #3 — the
    flagship chain was pytest-only): probe the 2 nearest coarse cells
    per query (round-6 cosine, lowest-cell ties), candidates from ONE
    equi-join on the cell id against the (cell, codes) index, ADC
    scoring with broadcast LUTs, shortlist 8·k, exact-cosine RESCORE,
    final top-5 — pipeline/pq.py pq_index + ivf_pq_topk(rescore=...).
    Coarse centroids are the 8 smallest vec_ids' embeddings (the
    ivf_assign seed rule = the PQ chain's seeds CTE) and codebooks the
    one-update Lloyd of q_pq_codes, so the oracle derives EVERYTHING
    from the embeddings view: assignment, probes, ADC ranking,
    shortlist and rescore, with no literals."""
    emb = _t(spark, sf_dir, "embeddings")
    cb, _hist = pqm.pq_train(emb, m=PQ_M, ksub=PQ_KSUB, iterations=1)
    cents = [
        list(r[1])
        for r in sorted(
            (r.vec_id, r.embedding)
            for r in emb.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(PQ_KSUB)
            .collect()
        )
    ]
    index = pqm.pq_index(emb, cb, cents)
    queries_df = emb.filter(F.col("vec_id") % 50 == 0)
    return pqm.ivf_pq_topk(
        index, queries_df, cb, cents, k=5, nprobe=2, rescore=emb
    ).withColumnRenamed("rank", "rnk")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the signature clustering operator end-to-end at
    sf0.001 (bipartite edges → connected components)."""
    return q_cluster_cc(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # HARD CAP: the driver records CORRECTNESS rows for at most the
    # FIRST 50 keys of this dict and silently drops the rest (observed
    # r01 33/33, r02 41/41, r03 50-of-53 — the last 3 keys had no row).
    # Keep len ≤ 50; merge related operators into one contract query
    # when adding new ones (tests/test_entry.py pins the cap).
    return {
        "pricing_summary": q_pricing_summary,
        "cql_filter": q_cql_filter,
        "keyset_page": q_keyset_page,
        "three_table_join": q_three_table_join,
        "cluster_cc": q_cluster_cc,
        "sketch_registers": q_sketch_registers,
        "quality_filter": q_quality_filter,
        "minhash_incremental": q_minhash_incremental,
        "contamination": q_contamination,
        "bigram_logprob_lang": q_bigram_logprob_lang,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "near_dedup_quality": q_near_dedup_quality,
        "embedding_lsh_topk": q_embedding_lsh_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "kmeans_train": q_kmeans_train,
        "multimodal_features": q_multimodal_features,
        "multimodal_resize": q_multimodal_resize,
        "curate_funnel": q_curate_funnel,
        # round-10 promotion (VERDICT r9 Next #1 + #4, rotation 6):
        # fixed-reference/OOV scoring under the persisted streaming-
        # fold LM model takes bigram_logprob's slot (two-rounds
        # stable; order-2 arithmetic stays pinned transitively through
        # bigram_logprob_lang plus the exact-equality tests and the
        # retired sweep)
        "lm_fixed_ref": q_lm_fixed_ref,
        # round-8 promotions (rotation 4 — VERDICT r7 "Next #3/#5/#7/
        # #8"): six two-round-stable r5 rows (line_dedup, span_stats,
        # ngram_counts, tfidf_top_terms, bloom_registers,
        # mixture_sample) retire; the composed IVF-PQ serving chain,
        # the order-3 LM, URL-level dedup and the streaming LM fold
        # take the slots
        "ivf_pq_topk": q_ivf_pq_topk,
        # round-12 promotion (rotation 8 — VERDICT r11 Next #2): the
        # Kneser-Ney 5-gram row takes trigram_logprob's slot (two
        # rounds stable; order-3 JM stays oracle-checked in the
        # retired sweep and order-2/5 JM stay live via
        # bigram_logprob_lang / ngram_logprob)
        "kn_logprob": q_kn_logprob,
        "url_dedup": q_url_dedup,
        "lm_stream_counts": q_lm_stream_counts,
        "split_assign": q_split_assign,
        "dsir_weights": q_dsir_weights,
        "chunk_text": q_chunk_text,
        "perplexity_buckets": q_perplexity_buckets,
        "near_contamination": q_near_contamination,
        "bm25_search": q_bm25_search,
        # round-6 promotions (rotation 2 — VERDICT r5 "Next #1")
        "hybrid_search": q_hybrid_search,
        "lsh_topk_quantized": q_lsh_topk_quantized,
        "bm25_indexed": q_bm25_indexed,
        "semantic_dedup": q_semantic_dedup,
        "remove_duplicate_spans": q_remove_duplicate_spans,
        "normalize_text": q_normalize_text,
        "domain_quality": q_domain_quality,
        "leakage_safe_split": q_leakage_safe_split,
        "logreg_train": q_logreg_train,
        "extract_html": q_extract_html,
        # round-7 promotions (rotation 3 — VERDICT r6 "Next #7")
        "bm25_batch": q_bm25_batch,
        "chunk_sequences": q_chunk_sequences,
        "bpe_train": q_bpe_train,
        "warc_roundtrip": q_warc_roundtrip,
        "ivf_routed": q_ivf_routed,
        "bm25_stream_index": q_bm25_stream_index,
        "semantic_dedup_routed": q_semantic_dedup_routed,
        # round-7 late promotions (rotation 3b: IVF-PQ lands with
        # fully self-contained SQL oracles; embedding_lsh_self and
        # embedding_ivf_topk — stable since r1/r2, superseded as scale
        # paths by the quantized/routed/PQ family — rotate out)
        "pq_codes": q_pq_codes,
        "pq_adc_topk": q_pq_adc_topk,
        # round-9 promotions (VERDICT r8 Next #2/#4) — the two free
        # slots: the order-5 CCNet LM shape and the streaming funnel's
        # fold-equals-batch ledger; live count hits the 50-row cap
        "ngram_logprob": q_ngram_logprob,
        "curate_stream": q_curate_stream,
    }


# ---- oracle SQL ----------------------------------------------------

_TOKS = (
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"
)

_LANGS_SQL = {
    "en": "['the','a','of','and','to','in','is']",
    "es": "['el','la','de','y','que','en','un']",
    "fr": "['le','la','de','et','que','des','un']",
    "de": "['der','die','das','und','zu','ein','ist']",
    "zh": "['de','shi','le','zai','he','you','wo']",
}


def _minhash_oracle() -> str:
    terms = ",\n        ".join(
        f"min((h * {dd._A[i]} + {dd._B[i]}) % 2147483647) AS h{i}"
        for i in range(16)
    )
    cols = ", ".join(f"h{i}" for i in range(16))
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, unnest(
        list_distinct(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i+1]))
      ) AS shingle
      FROM t WHERE len(toks) >= 2
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS h
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
        {terms}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, array_to_string([{cols}], ',') AS sig_csv FROM sig
    """


def _simhash_oracle(bits: int = 24) -> str:
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT DISTINCT doc_id, unnest(list_distinct(toks)) AS tk FROM t),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(tk), 1, 7))::BIGINT AS h FROM tok
    ),
    votes AS (
      SELECT doc_id, b.b AS bpos,
             sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed, LATERAL range(0, {bits}) b(b)
      GROUP BY doc_id, b.b
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bpos) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """


def _minhash_lsh_oracle(num_hashes: int = 16, bands: int = 4,
                        threshold_ppm: int = 300000) -> str:
    rows = num_hashes // bands
    sig_terms = ",\n        ".join(
        f"min((h * {dd._A[i]} + {dd._B[i]}) % 2147483647) AS h{i}"
        for i in range(num_hashes)
    )
    band_rows = ",\n      ".join(
        "({b}, md5({concat}))".format(
            b=b,
            concat=" || ',' || ".join(
                f"CAST(h{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    eq_terms = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    hs AS (
      SELECT doc_id,
        list_distinct(list_transform(
          list_distinct(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i+1])),
          s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)) AS hsh
      FROM t WHERE len(toks) >= 2
    ),
    hashed AS (
      SELECT doc_id, unnest(hsh) AS h FROM hs
    ),
    sig AS (
      SELECT doc_id,
        {sig_terms}
      FROM hashed GROUP BY doc_id
    ),
    buckets AS (
      SELECT doc_id, band, bucket
      FROM sig, (VALUES {band_rows}) AS bb(band, bucket_expr),
      LATERAL (SELECT bb.bucket_expr AS bucket) x
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    est AS (
      SELECT c.doc_a, c.doc_b,
             (({eq_terms}) * 1000000) // {num_hashes} AS est_ppm
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b),
    verified AS (
      SELECT e.doc_a, e.doc_b, e.est_ppm,
             len(list_intersect(a.hsh, b.hsh)) AS n_common,
             len(a.hsh) AS n_a, len(b.hsh) AS n_b
      FROM est e
      JOIN hs a ON a.doc_id = e.doc_a
      JOIN hs b ON b.doc_id = e.doc_b)
    SELECT doc_a, doc_b, est_ppm,
           (n_common * 1000000) // (n_a + n_b - n_common) AS jaccard_ppm
    FROM verified
    WHERE (n_common * 1000000) // (n_a + n_b - n_common) >= {threshold_ppm}
    """


def _near_dedup_keep_oracle(num_hashes: int = 16, bands: int = 4,
                            threshold_ppm: int = 300000) -> str:
    pairs_sql = _minhash_lsh_oracle(num_hashes, bands, threshold_ppm)
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({pairs_sql})
    ),
    e2 AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT src AS id, dst AS r FROM e2
      UNION
      SELECT reach.id, e.dst FROM reach JOIN e2 e ON reach.r = e.src
    ),
    comp AS (
      SELECT id, least(min(r), id) AS keep_id FROM reach GROUP BY id
    )
    SELECT d.doc_id,
           COALESCE(c.keep_id, d.doc_id) AS keep_id,
           (CASE WHEN COALESCE(c.keep_id, d.doc_id) = d.doc_id
                 THEN 1 ELSE 0 END)::BIGINT AS is_kept
    FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
    """


def _simhash_pairs_oracle(bits: int = 24, max_hamming: int = 2,
                          n_bands: int = 3) -> str:
    band_rows = ", ".join(
        f"({b}, {off}, {(1 << width) - 1})"
        for b, (off, width) in enumerate(dd.band_layout(bits, n_bands))
    )
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT DISTINCT doc_id, unnest(list_distinct(toks)) AS tk FROM t),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(tk), 1, 7))::BIGINT AS h FROM tok
    ),
    votes AS (
      SELECT doc_id, b.b AS bpos,
             sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed, LATERAL range(0, {bits}) b(b)
      GROUP BY doc_id, b.b
    ),
    sh AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bpos) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    ),
    buckets AS (
      SELECT doc_id, simhash, bb.band,
             (simhash >> bb.off) & bb.mask AS bucket
      FROM sh, (VALUES {band_rows}) AS bb(band, off, mask)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


def _embedding_lsh_oracle(k: int = 5, n_planes: int = 10,
                          n_tables: int = 4, dim: int = 64,
                          query_where: str = "a.vec_id % 50 = 0") -> str:
    from mod_reservoir_spark.pipeline.similarity import _plane_component

    def plane_lit(t, p):
        vals = ", ".join(repr(_plane_component(t, p, d)) for d in range(dim))
        return f"[{vals}]"

    bucket_exprs = []
    for t in range(n_tables):
        bits = " || ".join(
            f"(CASE WHEN list_dot_product(v, {plane_lit(t, p)}) >= 0 "
            "THEN '1' ELSE '0' END)"
            for p in range(n_planes)
        )
        bucket_exprs.append(f"SELECT vec_id, {t} AS tbl, {bits} AS bucket FROM e")
    buckets_sql = "\n      UNION ALL ".join(bucket_exprs)
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    buckets AS (
      {buckets_sql}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM buckets a JOIN buckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket
      WHERE {query_where + ' AND ' if query_where else ''}a.vec_id <> b.vec_id),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_dot_product(q.v, n.v) /
                   (sqrt(list_dot_product(q.v, q.v)) *
                    sqrt(list_dot_product(n.v, n.v))), 6) AS score
      FROM cand c
      JOIN e q ON q.vec_id = c.query_id
      JOIN e n ON n.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id, score, rn AS rnk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
      FROM scored)
    WHERE rn <= {k}
    """


def _embedding_near_dup_oracle(threshold: float = 0.3, n_planes: int = 10,
                               n_tables: int = 4, dim: int = 64) -> str:
    from mod_reservoir_spark.pipeline.similarity import _plane_component

    def plane_lit(t, p):
        vals = ", ".join(repr(_plane_component(t, p, d)) for d in range(dim))
        return f"[{vals}]"

    bucket_exprs = []
    for t in range(n_tables):
        bits = " || ".join(
            f"(CASE WHEN list_dot_product(v, {plane_lit(t, p)}) >= 0 "
            "THEN '1' ELSE '0' END)"
            for p in range(n_planes)
        )
        bucket_exprs.append(f"SELECT vec_id, {t} AS tbl, {bits} AS bucket FROM e")
    buckets_sql = "\n      UNION ALL ".join(bucket_exprs)
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    buckets AS (
      {buckets_sql}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a JOIN buckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket
      WHERE a.vec_id < b.vec_id)
    SELECT id_a, id_b, score FROM (
      SELECT c.id_a, c.id_b,
             round(list_dot_product(x.v, y.v) /
                   (sqrt(list_dot_product(x.v, x.v)) *
                    sqrt(list_dot_product(y.v, y.v))), 6) AS score
      FROM cand c
      JOIN e x ON x.vec_id = c.id_a
      JOIN e y ON y.vec_id = c.id_b)
    WHERE score >= {threshold}
    """


def _embedding_ivf_oracle(k: int = 5, n_centroids: int = 16,
                          nprobe: int = 4) -> str:
    cos = (
        "round(list_dot_product(e.v, c.cv) /"
        " (sqrt(list_dot_product(e.v, e.v)) *"
        " sqrt(list_dot_product(c.cv, c.cv))), 6)"
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
      FROM e ORDER BY vec_id LIMIT {n_centroids}
    ),
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos} DESC, c.cell) AS rn
        FROM e, c)
      WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT e.vec_id, c.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos} DESC, c.cell) AS rn
        FROM e, c WHERE e.vec_id % 50 = 0)
      WHERE rn <= {nprobe}
    ),
    cand AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assigned a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id),
    scored AS (
      SELECT cd.query_id, cd.neighbor_id,
             round(list_dot_product(q.v, n.v) /
                   (sqrt(list_dot_product(q.v, q.v)) *
                    sqrt(list_dot_product(n.v, n.v))), 6) AS score
      FROM cand cd
      JOIN e q ON q.vec_id = cd.query_id
      JOIN e n ON n.vec_id = cd.neighbor_id)
    SELECT query_id, neighbor_id, score, rn AS rnk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
      FROM scored)
    WHERE rn <= {k}
    """


def _langid_oracle() -> str:
    score_cols = ",\n      ".join(
        f"len(list_filter(toks, x -> list_contains({_LANGS_SQL[lang]}, x))) AS s_{lang}"
        for lang in sorted(_LANGS_SQL)
    )
    langs = sorted(_LANGS_SQL)
    m = "greatest(" + ", ".join(f"s_{la}" for la in langs) + ")"
    case = " ".join(f"WHEN s_{la} = m THEN '{la}'" for la in langs)
    return f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, lang,
      {score_cols}
      FROM t),
    mm AS (SELECT *, {m} AS m FROM s)
    SELECT doc_id, lang AS lang_actual,
           CASE {case} END AS lang_detected,
           m::BIGINT AS vote_count
    FROM mm
    """


def _kmeans_oracle(k: int = KMEANS_K, iters: int = KMEANS_ITERS,
                   d: int = 64) -> str:
    """Unrolled Lloyd iterations in SQL: seed = smallest-vec_id rows,
    per-iteration assignment by 6-decimal-rounded cosine (the same
    quantization kmeans_train applies — both engines see identical
    scores, so the trajectory is identical), centroids = cell means
    with empty cells carrying the previous centroid. Output matches
    q_kmeans_train: (cell, dim, q6) plus inertia rows at cell=-1."""
    parts = [f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    c0 AS (
      SELECT cell, cv FROM (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                 AS cell,
               embedding::DOUBLE[] AS cv
        FROM embeddings)
      WHERE cell < {k})"""]
    for i in range(iters):
        parts.append(f"""
    s{i} AS (
      SELECT v.vec_id, c.cell,
             round(list_dot_product(v.ev, c.cv) /
                   (sqrt(list_dot_product(v.ev, v.ev)) *
                    sqrt(list_dot_product(c.cv, c.cv))), 6) AS score
      FROM e v CROSS JOIN c{i} c),
    a{i} AS (
      SELECT vec_id, cell, score FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
        FROM s{i})
      WHERE rn = 1),
    i{i} AS (SELECT round(sum(1.0 - score), 6) AS v FROM a{i}),
    m{i} AS (
      SELECT a.cell, r.i AS dim, avg(v.ev[r.i]) AS val
      FROM a{i} a JOIN e v USING (vec_id), range(1, {d + 1}) r(i)
      GROUP BY 1, 2),
    c{i + 1} AS (
      SELECT p.cell, COALESCE(n.cv, p.cv) AS cv
      FROM c{i} p LEFT JOIN (
        SELECT cell, list(val ORDER BY dim) AS cv
        FROM m{i} GROUP BY cell) n
      USING (cell))""")
    inert = "\n    UNION ALL\n".join(
        f"""    SELECT CAST(-1 AS BIGINT) AS cell,
           CAST({i} AS BIGINT) AS dim,
           CAST(round(v * 1000000) AS BIGINT) AS q6 FROM i{i}"""
        for i in range(iters)
    )
    return ("WITH " + ",".join(parts) + f""",
    f AS (SELECT cell, r.i - 1 AS dim, cv[r.i] AS val
          FROM c{iters}, range(1, {d + 1}) r(i))
    SELECT cell, CAST(dim AS BIGINT) AS dim,
           CAST(round(val * 1000000) AS BIGINT) AS q6
    FROM f
    UNION ALL
{inert}
    """)


def _near_contamination_oracle(num_hashes: int = 16, bands: int = 4,
                               threshold_ppm: int = 300000) -> str:
    """DuckDB replica of near_contamination vs the doc_id % 97 == 0
    benchmark slice: shared signature CTE (the benchmark rows ARE
    corpus rows, so its signature table is the filtered corpus one),
    band-bucket candidate join, verified jaccard, per-doc aggregation
    with the (jaccard, bench_id) max-struct tie-break."""
    rows = num_hashes // bands
    sig_terms = ",\n        ".join(
        f"min((h * {dd._A[i]} + {dd._B[i]}) % 2147483647) AS h{i}"
        for i in range(num_hashes)
    )
    band_rows = ",\n      ".join(
        "({b}, md5({concat}))".format(
            b=b,
            concat=" || ',' || ".join(
                f"CAST(h{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    hs AS (
      SELECT doc_id,
        list_distinct(list_transform(
          list_distinct(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i+1])),
          s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)) AS hsh
      FROM t WHERE len(toks) >= 2),
    hashed AS (SELECT doc_id, unnest(hsh) AS h FROM hs),
    sig AS (
      SELECT doc_id,
        {sig_terms}
      FROM hashed GROUP BY doc_id),
    buckets AS (
      SELECT doc_id, band, bucket
      FROM sig, (VALUES {band_rows}) AS bb(band, bucket_expr),
      LATERAL (SELECT bb.bucket_expr AS bucket) x),
    cand AS (
      SELECT DISTINCT c.doc_id AS cid, b.doc_id AS bid
      FROM buckets b JOIN buckets c
        ON b.band = c.band AND b.bucket = c.bucket
      WHERE b.doc_id % 97 = 0),
    verified AS (
      SELECT cand.cid, cand.bid,
             (len(list_intersect(ch.hsh, bh.hsh)) * 1000000)
             // (len(ch.hsh) + len(bh.hsh)
                 - len(list_intersect(ch.hsh, bh.hsh))) AS jaccard_ppm
      FROM cand
      JOIN hs ch ON ch.doc_id = cand.cid
      JOIN hs bh ON bh.doc_id = cand.bid),
    hits AS (SELECT * FROM verified WHERE jaccard_ppm >= {threshold_ppm}),
    per_doc AS (
      SELECT cid, n_bench_matches, max_jaccard_ppm, worst_bench_id
      FROM (
        SELECT cid,
               CAST(count(*) OVER (PARTITION BY cid) AS BIGINT)
                 AS n_bench_matches,
               max(jaccard_ppm) OVER (PARTITION BY cid)
                 AS max_jaccard_ppm,
               bid AS worst_bench_id,
               row_number() OVER (
                 PARTITION BY cid ORDER BY jaccard_ppm DESC, bid DESC
               ) AS rn
        FROM hits) WHERE rn = 1)
    SELECT d.doc_id,
           COALESCE(p.n_bench_matches, 0) AS n_bench_matches,
           COALESCE(p.max_jaccard_ppm, 0) AS max_jaccard_ppm,
           p.worst_bench_id
    FROM documents d LEFT JOIN per_doc p ON p.cid = d.doc_id
    """


def _mixture_oracle() -> str:
    """DuckDB replica of mixture_sample: the exact largest-remainder
    quota table is computed by the SAME library call and inlined, the
    draw order is the shared md5(doc_id) shuffle."""
    quotas = smp.mixture_quotas(MIXTURE_WEIGHTS, MIXTURE_N)
    vals = ", ".join(f"('{k}', {v})" for k, v in sorted(quotas.items()))
    return f"""
    WITH q(lang, quota) AS (VALUES {vals}),
    ranked AS (
      SELECT d.doc_id, d.lang, q.quota,
             row_number() OVER (
               PARTITION BY d.lang
               ORDER BY md5(CAST(d.doc_id AS VARCHAR))
             ) AS sample_rank
      FROM documents d JOIN q USING (lang))
    SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank,
           CAST(quota AS BIGINT) AS quota
    FROM ranked WHERE sample_rank <= quota
    """


def _curate_funnel_oracle(num_hashes: int = 16, bands: int = 4,
                          threshold_ppm: int = 300000) -> str:
    """One recursive-CTE replica of the whole curation funnel:
    quality (pipeline/text.py quality_filter defaults) → exact dedup
    (shared fingerprint_expr) → near dedup (MinHash LSH + reachability
    CC, min-id keeper) → verbatim 8-gram decontamination vs the
    doc_id % 97 == 0 benchmark slice — emitted as the per-document
    first-drop attribution (doc_id, stage)."""
    rows = num_hashes // bands
    sig_terms = ",\n        ".join(
        f"min((h * {dd._A[i]} + {dd._B[i]}) % 2147483647) AS h{i}"
        for i in range(num_hashes)
    )
    band_rows = ",\n      ".join(
        "({b}, md5({concat}))".format(
            b=b,
            concat=" || ',' || ".join(
                f"CAST(h{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"""
    WITH RECURSIVE
    d0 AS (
      SELECT doc_id, coalesce(text, '') AS text
      FROM documents WHERE doc_id IS NOT NULL),
    t AS (SELECT doc_id, text, {_TOKS} AS toks FROM d0),
    q AS (
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        (length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
          * 1000000) // greatest(length(text), 1) AS punct_ppm,
        (len(list_distinct(toks)) * 1000000)
          // greatest(len(toks), 1) AS distinct_ppm,
        CAST(len(str_split(text, chr(10))) AS BIGINT) AS n_lines,
        CAST(len(list_distinct(str_split(text, chr(10))))
             AS BIGINT) AS n_dlines
      FROM t),
    bgr AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
               i -> toks[i] || ' ' || toks[i+1])) AS bg
      FROM t WHERE len(toks) >= 2),
    bcnt AS (SELECT doc_id, bg, count(*) AS cnt FROM bgr GROUP BY 1, 2),
    btop AS (
      SELECT doc_id, max(cnt) AS mx, CAST(sum(cnt) AS BIGINT) AS total
      FROM bcnt GROUP BY 1),
    qflag AS (
      SELECT q.doc_id,
        CASE WHEN q.n_tokens < 20
              OR (CASE WHEN q.n_lines > 0
                       THEN (q.n_lines - q.n_dlines) * 1000000 // q.n_lines
                       ELSE 0 END) > 300000
              OR COALESCE(btop.mx * 1000000 // btop.total, 0) > 180000
              OR q.distinct_ppm < 200000
              OR q.punct_ppm > 250000
             THEN 0 ELSE 1 END AS q_keep
      FROM q LEFT JOIN btop USING (doc_id)),
    q_surv AS (
      SELECT d0.doc_id, d0.text
      FROM d0 JOIN qflag USING (doc_id) WHERE q_keep = 1),
    fp AS (
      SELECT doc_id, md5(array_to_string({_TOKS}, ' ')) AS fp
      FROM q_surv),
    keeper AS (SELECT fp, min(doc_id) AS kid FROM fp GROUP BY 1),
    eflag AS (
      SELECT f.doc_id, (f.doc_id = k.kid) AS e_keep
      FROM fp f JOIN keeper k USING (fp)),
    e_surv AS (
      SELECT s.doc_id, s.text
      FROM q_surv s JOIN eflag USING (doc_id) WHERE e_keep),
    nt AS (SELECT doc_id, {_TOKS} AS toks FROM e_surv),
    hs AS (
      SELECT doc_id,
        list_distinct(list_transform(
          list_distinct(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i+1])),
          s -> ('0x' || substr(md5(s), 1, 7))::BIGINT)) AS hsh
      FROM nt WHERE len(toks) >= 2),
    hashed AS (SELECT doc_id, unnest(hsh) AS h FROM hs),
    sig AS (
      SELECT doc_id,
        {sig_terms}
      FROM hashed GROUP BY doc_id),
    buckets AS (
      SELECT doc_id, band, bucket
      FROM sig, (VALUES {band_rows}) AS bb(band, bucket_expr),
      LATERAL (SELECT bb.bucket_expr AS bucket) x),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket
           AND a.doc_id < b.doc_id),
    verified AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN hs a ON a.doc_id = c.doc_a
      JOIN hs b ON b.doc_id = c.doc_b
      WHERE (len(list_intersect(a.hsh, b.hsh)) * 1000000)
            // (len(a.hsh) + len(b.hsh)
                - len(list_intersect(a.hsh, b.hsh))) >= {threshold_ppm}),
    e2 AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION SELECT doc_b, doc_a FROM verified),
    reach AS (
      SELECT src AS id, dst AS r FROM e2
      UNION
      SELECT reach.id, e.dst FROM reach JOIN e2 e ON reach.r = e.src),
    comp AS (SELECT id, least(min(r), id) AS keep_id FROM reach GROUP BY id),
    nflag AS (
      SELECT s.doc_id,
             CASE WHEN COALESCE(c.keep_id, s.doc_id) = s.doc_id
                  THEN 1 ELSE 0 END AS n_keep
      FROM e_surv s LEFT JOIN comp c ON c.id = s.doc_id),
    n_surv AS (
      SELECT s.doc_id, s.text
      FROM e_surv s JOIN nflag USING (doc_id) WHERE n_keep = 1),
    ct AS (SELECT doc_id, {_TOKS} AS toks FROM n_surv),
    csh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(toks) - 6),
               i -> array_to_string(toks[i:i+7], ' ')))) AS ng
      FROM ct WHERE len(toks) >= 8),
    bng AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(
               range(1, len(toks) - 6),
               i -> array_to_string(toks[i:i+7], ' ')))) AS ng
      FROM t WHERE doc_id % 97 = 0 AND len(toks) >= 8),
    chit AS (
      SELECT s.doc_id, count(*) AS n_hits
      FROM csh s JOIN bng USING (ng) GROUP BY 1),
    cflag AS (
      SELECT s.doc_id,
             CASE WHEN COALESCE(ch.n_hits, 0) > 0 THEN 0 ELSE 1 END AS c_keep
      FROM n_surv s LEFT JOIN chit ch USING (doc_id)),
    ledger AS (
      SELECT d0.doc_id,
        CASE WHEN qflag.q_keep = 0 THEN 'quality'
             WHEN NOT eflag.e_keep THEN 'exact_dup'
             WHEN nflag.n_keep = 0 THEN 'near_dup'
             WHEN cflag.c_keep = 0 THEN 'contaminated'
             ELSE 'kept' END AS stage
      FROM d0
      JOIN qflag USING (doc_id)
      LEFT JOIN eflag USING (doc_id)
      LEFT JOIN nflag USING (doc_id)
      LEFT JOIN cflag USING (doc_id))
    SELECT doc_id, stage FROM ledger
    """


def _oracle_literals() -> dict[str, str]:
    cql_q = parse_cql(ORDERS_CQL)
    cql_where = cql_q.to_sql(ORDER_CQL_FIELDS)
    cql_order = cql_q.order_by_sql(ORDER_CQL_FIELDS)
    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity*100, 0) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
                   CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
                   CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100, 0) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
                   count(*) AS count_order,
                   CAST((sum(CAST(round(l_quantity*100, 0) AS BIGINT)) * 1000000) // count(*) AS BIGINT) AS avg_qty_ppm
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "cql_filter": f"""
            SELECT o_orderkey, o_custkey,
                   CAST(round(o_totalprice*100, 0) AS BIGINT) AS total_cents
            FROM orders
            WHERE {cql_where}
            ORDER BY {cql_order}, o_orderkey
            LIMIT 100
        """,
        "keyset_page": f"""
            SELECT event_id, strftime(ts, '{TS_FMT_DUCK}') AS ts_str,
                   event_type, user_id
            FROM events
            WHERE (ts > TIMESTAMP '{KEYSET_FROM}'
                   OR (ts = TIMESTAMP '{KEYSET_FROM}' AND event_id >= 0))
              AND ts <= TIMESTAMP '{KEYSET_UNTIL}'
            ORDER BY ts, event_id
            LIMIT 2000
        """,
        "three_table_join": """
            SELECT n_name, count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS total_cents
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "cluster_histogram": """
            WITH per AS (
              SELECT o_custkey, count(*) AS n_orders
              FROM orders GROUP BY o_custkey)
            SELECT n_orders, count(*) AS n_customers,
                   array_to_string(
                     list_slice(list_sort(list(o_custkey)), 1, 3), ','
                   ) AS sample_custkeys
            FROM per GROUP BY n_orders
        """,
        "cluster_cc": """
            WITH RECURSIVE vals AS (
              SELECT c_custkey AS id,
                     'g10:' || CAST(c_custkey // 10 AS VARCHAR) AS v
              FROM customer
              UNION ALL
              SELECT c_custkey, 'g20:' || CAST(c_custkey // 20 AS VARCHAR)
              FROM customer
            ), edges AS (
              SELECT DISTINCT a.id AS src, b.id AS dst
              FROM vals a JOIN vals b ON a.v = b.v
            ), reach AS (
              SELECT src AS id, dst AS r FROM edges
              UNION
              SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
            )
            SELECT id AS record_id, min(r) AS cluster_id
            FROM reach GROUP BY id
        """,
        "cluster_members": """
            WITH RECURSIVE vals AS (
              SELECT c_custkey AS id,
                     'g10:' || CAST(c_custkey // 10 AS VARCHAR) AS v
              FROM customer
              UNION ALL
              SELECT c_custkey, 'g20:' || CAST(c_custkey // 20 AS VARCHAR)
              FROM customer
            ), edges AS (
              SELECT DISTINCT a.id AS src, b.id AS dst
              FROM vals a JOIN vals b ON a.v = b.v
            ), reach AS (
              SELECT src AS id, dst AS r FROM edges
              UNION
              SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
            ), comp AS (
              SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
            )
            SELECT cluster_id, count(*) AS n_members,
                   string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS member_csv
            FROM comp GROUP BY cluster_id
        """,
        "range_join": """
            WITH e AS (
              SELECT user_id, event_id AS err_id, ts
              FROM events WHERE event_type = 'error'),
            c AS (
              SELECT user_id, ts AS cts
              FROM events WHERE event_type = 'click'),
            n AS (
              SELECT e.err_id, CAST(count(*) AS BIGINT) AS n_nearby_clicks
              FROM e JOIN c ON e.user_id = c.user_id
                AND abs(epoch_us(c.cts) - epoch_us(e.ts)) <= 300000000
              GROUP BY 1)
            SELECT e.user_id, e.err_id,
                   COALESCE(n.n_nearby_clicks, 0) AS n_nearby_clicks
            FROM e LEFT JOIN n USING (err_id)
        """,
        "asof_join": """
            WITH t AS (
              SELECT user_id, event_id, ts, event_type,
                     CASE WHEN event_type = 'click' THEN event_id END
                       AS click_id_src,
                     CASE WHEN event_type = 'click' THEN ts END
                       AS click_ts_src
              FROM events WHERE event_type IN ('click', 'purchase')),
            j AS (
              SELECT user_id, event_id, ts, event_type,
                     last_value(click_id_src IGNORE NULLS) OVER w
                       AS click_id,
                     last_value(click_ts_src IGNORE NULLS) OVER w
                       AS click_ts
              FROM t
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW))
            SELECT user_id, event_id AS purchase_id, click_id,
                   CASE WHEN click_ts IS NOT NULL
                        THEN CAST(epoch_us(ts) - epoch_us(click_ts)
                                  AS BIGINT) END AS lag_us
            FROM j WHERE event_type = 'purchase'
        """,
        "token_stats": f"""
            WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
            ts AS (
              SELECT doc_id,
                     len(toks) AS n_tokens,
                     len(list_distinct(toks)) AS n_distinct_tokens,
                     length(text) AS n_chars_measured,
                     (length(array_to_string(toks, '')) * 1000000)
                       // greatest(len(toks), 1) AS avg_token_len_ppm
              FROM t),
            base AS (
              SELECT doc_id,
                     CAST(len(toks) AS BIGINT) AS n_tokens,
                     CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
                     CAST(len(str_split(text, chr(10))) AS BIGINT) AS n_lines,
                     CAST(len(list_distinct(str_split(text, chr(10))))
                          AS BIGINT) AS n_dlines,
                     toks
              FROM t),
            bg AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i+1])) AS bg
              FROM base WHERE len(toks) >= 2),
            cnts AS (
              SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
            top AS (
              SELECT doc_id, max(cnt) AS mx,
                     CAST(sum(cnt) AS BIGINT) AS total
              FROM cnts GROUP BY 1),
            rep AS (
              SELECT b.doc_id,
                     CASE WHEN b.n_tokens > 0
                          THEN (b.n_tokens - b.n_distinct) * 1000000 // b.n_tokens
                          ELSE 0 END AS dup_token_ppm,
                     CASE WHEN b.n_lines > 0
                          THEN (b.n_lines - b.n_dlines) * 1000000 // b.n_lines
                          ELSE 0 END AS dup_line_ppm,
                     COALESCE(top.mx * 1000000 // top.total, 0)
                       AS top_bigram_ppm
              FROM base b LEFT JOIN top USING (doc_id))
            SELECT ts.*, rep.dup_token_ppm, rep.dup_line_ppm,
                   rep.top_bigram_ppm
            FROM ts JOIN rep USING (doc_id)
        """,
        "sketch_registers": f"""
            WITH tok AS (
              SELECT lang, unnest({_TOKS}) AS v FROM documents),
            hll AS (
              WITH h AS (
                SELECT lang,
                       CAST(('0x' || substr(md5(v), 1, 4))::BIGINT % 512
                            AS BIGINT) AS bucket,
                       ('0x' || substr(md5(v), 5, 13))::BIGINT AS val
                FROM tok)
              SELECT lang, bucket,
                     CAST(max(CASE WHEN val = 0 THEN 53
                                   ELSE 53 - length(bin(val)) END)
                          AS BIGINT) AS r
              FROM h GROUP BY 1, 2),
            cm AS (
              WITH cells AS (
                SELECT lang, 0 AS d,
                       ('0x' || substr(md5('0:' || v), 1, 4))::BIGINT % 256
                         AS cell FROM tok
                UNION ALL
                SELECT lang, 1,
                       ('0x' || substr(md5('1:' || v), 1, 4))::BIGINT % 256
                FROM tok
                UNION ALL
                SELECT lang, 2,
                       ('0x' || substr(md5('2:' || v), 1, 4))::BIGINT % 256
                FROM tok
                UNION ALL
                SELECT lang, 3,
                       ('0x' || substr(md5('3:' || v), 1, 4))::BIGINT % 256
                FROM tok)
              SELECT lang, d, CAST(cell AS BIGINT) AS cell,
                     CAST(count(*) AS BIGINT) AS c
              FROM cells GROUP BY 1, 2, 3)
            SELECT 'hll' AS sketch, lang, bucket AS k1,
                   CAST(0 AS BIGINT) AS k2, r AS v
            FROM hll
            UNION ALL
            SELECT 'cm' AS sketch, lang, CAST(d AS BIGINT) AS k1,
                   cell AS k2, c AS v
            FROM cm
        """,
        "quality_filter": f"""
            WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
            q AS (
              SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                (length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                  * 1000000) // greatest(length(text), 1) AS punct_ppm,
                (len(list_distinct(toks)) * 1000000)
                  // greatest(len(toks), 1) AS distinct_ppm,
                CAST(len(str_split(text, chr(10))) AS BIGINT) AS n_lines,
                CAST(len(list_distinct(str_split(text, chr(10))))
                     AS BIGINT) AS n_dlines
              FROM t),
            bg AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i+1])) AS bg
              FROM t WHERE len(toks) >= 2),
            cnts AS (
              SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
            top AS (
              SELECT doc_id, max(cnt) AS mx,
                     CAST(sum(cnt) AS BIGINT) AS total
              FROM cnts GROUP BY 1),
            sig AS (
              SELECT q.doc_id, q.n_tokens, q.punct_ppm, q.distinct_ppm,
                     CASE WHEN q.n_lines > 0
                          THEN (q.n_lines - q.n_dlines) * 1000000 // q.n_lines
                          ELSE 0 END AS dup_line_ppm,
                     COALESCE(top.mx * 1000000 // top.total, 0)
                       AS top_bigram_ppm
              FROM q LEFT JOIN top USING (doc_id)),
            reasons AS (
              SELECT doc_id, n_tokens,
                -- array_to_string('[]') is NULL in DuckDB, '' in Spark
                COALESCE(array_to_string(list_sort(list_filter([
                  CASE WHEN n_tokens < 20 THEN 'too_short' END,
                  CASE WHEN dup_line_ppm > 300000 THEN 'dup_lines' END,
                  CASE WHEN top_bigram_ppm > 180000
                       THEN 'repeated_bigram' END,
                  CASE WHEN distinct_ppm < 200000 THEN 'low_diversity' END,
                  CASE WHEN punct_ppm > 250000 THEN 'punct_heavy' END
                ], x -> x IS NOT NULL)), ','), '') AS reject_reasons
              FROM sig)
            SELECT doc_id, n_tokens, reject_reasons,
                   CASE WHEN reject_reasons = '' THEN 1 ELSE 0 END AS keep
            FROM reasons
        """,
        "pack_shards": f"""
            WITH t AS (
              SELECT doc_id, lang,
                     CAST(len({_TOKS}) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, lang, n_tokens,
                     CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT)
                       AS before
              FROM t
              WINDOW w AS (PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR))
                           ROWS UNBOUNDED PRECEDING))
            SELECT doc_id, lang, n_tokens,
                   before // 2000 AS shard_id,
                   before % 2000 AS offset_tokens
            FROM c
        """,
        "pii_scrub": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
                     AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(text,
                     '(\+?\d{1,3}[ .-])?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}'))
                     AS BIGINT) AS n_phones,
                   md5(regexp_replace(regexp_replace(regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                     '(\+?\d{1,3}[ .-])?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}',
                     '<PHONE>', 'g')) AS scrubbed_md5
            FROM documents
        """,
        "minhash_incremental": (
            "SELECT * FROM (" + _minhash_lsh_oracle(16, 4, 300000)
            + ") WHERE doc_a % 2 = 1 OR doc_b % 2 = 1"
        ),
        "contamination": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct(list_transform(
                       range(1, len(toks) - 6),
                       i -> array_to_string(toks[i:i+7], ' ')))) AS ng
              FROM t WHERE len(toks) >= 8),
            bng AS (SELECT DISTINCT ng FROM sh WHERE doc_id % 97 = 0),
            sizes AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams
              FROM sh GROUP BY 1),
            hits AS (
              SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hits
              FROM sh s JOIN bng USING (ng) GROUP BY 1)
            SELECT d.doc_id,
                   COALESCE(sizes.n_ngrams, 0) AS n_ngrams,
                   COALESCE(hits.n_hits, 0) AS n_hits,
                   CASE WHEN COALESCE(sizes.n_ngrams, 0) > 0
                        THEN COALESCE(hits.n_hits, 0) * 1000000
                               // sizes.n_ngrams
                        ELSE 0 END AS contamination_ppm
            FROM documents d
            LEFT JOIN sizes USING (doc_id)
            LEFT JOIN hits USING (doc_id)
        """,
        "bpe_tokens": f"""
            WITH m AS (
              SELECT doc_id, text,
                list_filter(
                  regexp_extract_all(text,
                    '''(?:s|t|re|ve|m|ll|d)| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+|\\s+'),
                  x -> regexp_matches(x, '\\S')) AS bpe,
                {_TOKS} AS toks
              FROM documents)
            SELECT doc_id,
                   len(bpe) AS n_bpe_tokens,
                   len(toks) AS n_ws_tokens,
                   (length(array_to_string(bpe, '')) * 1000000)
                     // greatest(len(bpe), 1) AS avg_piece_len_ppm
            FROM m
        """,
        "quality": f"""
            WITH qq AS (
              WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
              c AS (
                SELECT doc_id, text, toks,
                  len(toks) AS n_tokens,
                  length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
                  len(list_filter(toks,
                    x -> list_contains({_LANGS_SQL["en"]}, x))) AS n_stop,
                  len(list_distinct(toks)) AS n_distinct
                FROM t)
              SELECT doc_id,
                     n_tokens,
                     (n_punct * 1000000) // greatest(length(text), 1) AS punct_ppm,
                     (n_stop * 1000000) // greatest(n_tokens, 1) AS stopword_ppm,
                     (n_distinct * 1000000) // greatest(n_tokens, 1) AS distinct_ppm,
                     (length(text) >= 100 AND
                      (n_distinct * 1000000) // greatest(n_tokens, 1) > 200000
                     ) AS passes_quality
              FROM c),
            ll AS ({_langid_oracle()})
            SELECT qq.*, ll.lang_actual, ll.lang_detected, ll.vote_count
            FROM qq JOIN ll USING (doc_id)
        """,
        "fingerprint": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
            SELECT doc_id,
                   md5(array_to_string(toks, ' ')) AS fingerprint,
                   length(array_to_string(toks, ' ')) AS n_chars_normalized
            FROM t
        """,
        "winnow_pairs": """
            WITH t AS (
              SELECT doc_id,
                     regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS norm
              FROM documents),
            g AS (
              SELECT doc_id,
                     CAST(greatest(length(norm) - 4, 0) AS INTEGER) AS n_grams,
                     CASE WHEN length(norm) >= 5 THEN
                       list_transform(range(1, length(norm) - 3),
                         i -> ('0x' || substr(md5(substr(norm, i, 5)), 1, 7))::BIGINT)
                     ELSE [] END AS hashes
              FROM t),
            wn AS (
              SELECT doc_id,
                     CASE WHEN n_grams = 0 THEN []
                          WHEN n_grams < 4 THEN [list_min(hashes)]
                          ELSE list_transform(range(1, n_grams - 2),
                                 i -> list_min(hashes[i:i+3]))
                     END AS wins
              FROM g),
            fp AS (
              SELECT doc_id, unnest(list_distinct(wins)) AS fp FROM wn),
            sizes AS (
              SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id),
            blocking AS (
              SELECT fp FROM fp GROUP BY fp HAVING count(*) BETWEEN 2 AND 30),
            blocked AS (SELECT fp.* FROM fp JOIN blocking USING (fp)),
            candidates AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM blocked a JOIN blocked b
                ON a.fp = b.fp AND a.doc_id < b.doc_id),
            shared AS (
              -- verify over ALL shared fps, not just blocked ones
              SELECT c.doc_a, c.doc_b, count(*) AS n_shared
              FROM candidates c
              JOIN fp fa ON fa.doc_id = c.doc_a
              JOIN fp fb ON fb.doc_id = c.doc_b AND fb.fp = fa.fp
              GROUP BY 1, 2)
            SELECT s.doc_a, s.doc_b, s.n_shared,
                   (s.n_shared * 1000000) // least(sa.n_fp, sb.n_fp)
                     AS overlap_ppm
            FROM shared s
            JOIN sizes sa ON sa.doc_id = s.doc_a
            JOIN sizes sb ON sb.doc_id = s.doc_b
            WHERE (s.n_shared * 1000000) // least(sa.n_fp, sb.n_fp)
                    >= 400000
        """,
        "dedup_exact": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
            SELECT md5(array_to_string(toks, ' ')) AS fingerprint,
                   count(*) AS group_size,
                   min(doc_id) AS keeper_doc_id
            FROM t GROUP BY 1
        """,
        "jaccard_pairs": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            sh AS (SELECT doc_id, unnest(list_distinct(toks)) AS shingle FROM t),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            blocking AS (
              SELECT shingle FROM sh GROUP BY shingle
              HAVING count(*) BETWEEN 2 AND 30),
            blocked AS (SELECT sh.* FROM sh JOIN blocking USING (shingle)),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM blocked a JOIN blocked b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
            common AS (
              SELECT c.doc_a, c.doc_b, count(*) AS n_common
              FROM cand c
              JOIN sh x ON x.doc_id = c.doc_a
              JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
              GROUP BY c.doc_a, c.doc_b)
            SELECT c.doc_a, c.doc_b, sa.n_sh AS n_a, sb.n_sh AS n_b,
                   co.n_common,
                   (co.n_common * 1000000)
                     // (sa.n_sh + sb.n_sh - co.n_common) AS jaccard_ppm
            FROM cand c
            JOIN common co ON co.doc_a = c.doc_a AND co.doc_b = c.doc_b
            JOIN sizes sa ON sa.doc_id = c.doc_a
            JOIN sizes sb ON sb.doc_id = c.doc_b
            WHERE (co.n_common * 1000000)
                    // (sa.n_sh + sb.n_sh - co.n_common) >= 400000
        """,
        "minhash_lsh_pairs": _minhash_lsh_oracle(16, 4, 300000),
        "near_dedup_keep": _near_dedup_keep_oracle(16, 4, 300000),
        "simhash_pairs": _simhash_pairs_oracle(24, 2, 3),
        "embedding_lsh_topk": _embedding_lsh_oracle(5, 10, 4, 64),
        "embedding_lsh_self": _embedding_lsh_oracle(3, 10, 4, 64, query_where=""),
        "embedding_near_dup": _embedding_near_dup_oracle(0.3, 10, 4, 64),
        "embedding_ivf_topk": _embedding_ivf_oracle(5, 16, 4),
        "kmeans_train": _kmeans_oracle(),
        "embedding_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id % 50 = 0),
            c AS (
              SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
              FROM embeddings),
            scored AS (
              SELECT query_id, neighbor_id,
                     round(list_dot_product(qv, cv) /
                           (sqrt(list_dot_product(qv, qv)) *
                            sqrt(list_dot_product(cv, cv))), 6) AS score
              FROM q, c WHERE query_id <> neighbor_id)
            SELECT query_id, neighbor_id, score, rn AS rnk
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rn
              FROM scored)
            WHERE rn <= 5
        """,
        "multimodal_features": """
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   64 + ('0x' || substr(sha256(text), 1, 2))::BIGINT % 192 AS width,
                   64 + ('0x' || substr(sha256(text), 3, 2))::BIGINT % 192 AS height,
                   sha256(text) AS content_sha256,
                   octet_length(encode(text)) AS n_bytes,
                   md5(text) AS content_md5,
                   source AS media_source
            FROM documents
        """,
        "multimodal_resize": """
            WITH m AS (
              SELECT CAST(doc_id AS VARCHAR) AS media_id,
                     sha256(text) AS sha,
                     64 + ('0x' || substr(sha256(text), 1, 2))::BIGINT % 192 AS w,
                     64 + ('0x' || substr(sha256(text), 3, 2))::BIGINT % 192 AS h
              FROM documents),
            d AS (
              SELECT *,
                CASE WHEN w <= 100 AND h <= 100 THEN w
                     WHEN w >= h THEN 100
                     ELSE greatest(1, w * 100 // h) END AS ow,
                CASE WHEN w <= 100 AND h <= 100 THEN h
                     WHEN w >= h THEN greatest(1, h * 100 // w)
                     ELSE 100 END AS oh
              FROM m),
            t AS (
              SELECT *,
                sha || 'x' || CAST(ow AS VARCHAR) || 'x' || CAST(oh AS VARCHAR) AS tag
              FROM d)
            SELECT media_id, w AS src_width, h AS src_height,
                   ow AS out_width, oh AS out_height,
                   length(tag)::BIGINT AS n_bytes_out,
                   sha256(tag) AS resized_sha256
            FROM t
        """,
        "sessionize": f"""
            WITH g AS (
              SELECT user_id, event_id, epoch_us(ts) AS us,
                     lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events),
            marked AS (
              SELECT user_id, event_id, us,
                     CASE WHEN prev IS NULL THEN 1
                          WHEN us - prev > {SESSION_GAP_US} THEN 1
                          ELSE 0 END AS new_sess
              FROM g),
            sess AS (
              SELECT user_id,
                     sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS sess_id
              FROM marked),
            per AS (
              SELECT user_id, sess_id, count(*) AS n_events
              FROM sess GROUP BY user_id, sess_id)
            SELECT user_id, count(*) AS n_sessions,
                   max(n_events) AS max_session_events,
                   CAST(sum(n_events) AS BIGINT) AS total_events
            FROM per GROUP BY user_id
        """,
        "hourly_rollup": f"""
            SELECT strftime(date_trunc('hour', ts), '{TS_FMT_DUCK}') AS hour,
                   event_type, count(*) AS n,
                   CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events GROUP BY 1, 2
        """,
        "topk_per_type": """
            WITH totals AS (
              SELECT event_type, user_id,
                     CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT)
                       AS total_cents
              FROM events GROUP BY event_type, user_id)
            SELECT event_type, user_id, total_cents, rn AS rnk
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY event_type
                ORDER BY total_cents DESC, user_id) AS rn
              FROM totals)
            WHERE rn <= 3
        """,
        "curate_funnel": _curate_funnel_oracle(16, 4, 300000),
        "line_dedup": """
            WITH lines AS (
              SELECT doc_id,
                     unnest(string_split(coalesce(text, ''), ' ')) AS line,
                     unnest(generate_series(
                       0, len(string_split(coalesce(text, ''), ' ')) - 1))
                       AS pos
              FROM documents
            ), owners AS (
              SELECT md5(line) AS lkey,
                     min(doc_id * 1000000 + pos) AS own
              FROM lines WHERE length(line) >= 1 GROUP BY 1
            ), flagged AS (
              SELECT l.doc_id, l.pos, l.line,
                     (length(l.line) < 1)
                     OR (l.doc_id * 1000000 + l.pos = o.own) AS keep
              FROM lines l LEFT JOIN owners o ON md5(l.line) = o.lkey
            )
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN keep THEN line END,
                                       ' ' ORDER BY pos), '') AS text,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_kept
            FROM flagged GROUP BY doc_id
        """,
        "span_stats": f"""
            WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents),
            wins AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, len(toks) - 2),
                       i -> md5(array_to_string(toks[i:i+3], ' ')))) AS wh
              FROM t WHERE len(toks) >= 4),
            freq AS (
              SELECT wh, count(DISTINCT doc_id) AS n_docs_with
              FROM wins GROUP BY 1),
            per_doc AS (
              SELECT w.doc_id,
                     CAST(count(*) AS BIGINT) AS n_windows,
                     CAST(sum(CASE WHEN f.n_docs_with >= 2 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_dup
              FROM wins w JOIN freq f USING (wh) GROUP BY 1)
            SELECT d.doc_id,
                   COALESCE(p.n_windows, 0) AS n_windows,
                   COALESCE(p.n_dup, 0) AS n_dup,
                   CASE WHEN COALESCE(p.n_windows, 0) > 0
                        THEN COALESCE(p.n_dup, 0) * 1000000 // p.n_windows
                        ELSE 0 END AS dup_ppm
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        """,
        "ngram_counts": f"""
            WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents),
            grams AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, len(toks) - 1),
                       i -> array_to_string(toks[i:i+2], ' '))) AS ngram
              FROM t WHERE len(toks) >= 3),
            per_doc AS (
              SELECT ngram, doc_id, count(*) AS c
              FROM grams GROUP BY 1, 2)
            SELECT ngram,
                   CAST(sum(c) AS BIGINT) AS n_total,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM per_doc GROUP BY ngram
            ORDER BY n_total DESC, ngram ASC LIMIT 50
        """,
        "tfidf_top_terms": f"""
            WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents),
            term_doc AS (
              SELECT doc_id, unnest(toks) AS term FROM t),
            tf AS (
              SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM term_doc GROUP BY 1, 2),
            df AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY 1),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term, tf.tf, df.df,
                     CAST(round(tf.tf * (ln((n.n + 1) / (df.df + 1.0)) + 1.0)
                                * 1000000) AS BIGINT) AS score_e6
              FROM tf JOIN df USING (term) CROSS JOIN n),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score_e6 DESC, term ASC
              ) AS rnk FROM scored)
            SELECT doc_id, term, tf, df, score_e6, CAST(rnk AS INT) AS rnk
            FROM ranked WHERE rnk <= 3
        """,
        "unigram_logprob": f"""
            WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents),
            term_doc AS (
              SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM (SELECT doc_id, unnest(toks) AS term FROM t)
              GROUP BY 1, 2),
            vocab AS (
              SELECT term, CAST(sum(tf) AS BIGINT) AS ctf
              FROM term_doc GROUP BY 1),
            tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS total FROM vocab),
            scored AS (
              SELECT td.doc_id,
                     CAST(sum(td.tf) AS BIGINT) AS n_tokens,
                     CAST(round(
                       sum(td.tf * -ln(v.ctf / CAST(tot.total AS DOUBLE)))
                         / sum(td.tf) * 1000000) AS BIGINT) AS mean_nll_e6
              FROM term_doc td JOIN vocab v USING (term) CROSS JOIN tot
              GROUP BY 1)
            SELECT d.doc_id,
                   COALESCE(s.n_tokens, 0) AS n_tokens,
                   COALESCE(s.mean_nll_e6, 0) AS mean_nll_e6
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "bloom_registers": """
            SELECT DISTINCT bit FROM (
              SELECT unnest([
                ('0x' || substr(md5(d || ':' || text), 1, 4))::BIGINT % 4096
                FOR d IN range(4)
              ]) AS bit
              FROM documents WHERE text IS NOT NULL
            )
        """,
        "mixture_sample": _mixture_oracle(),
        "split_assign": f"""
            SELECT doc_id,
                   CASE WHEN u < {int(0.8 * (1 << 28))} THEN 'train'
                        WHEN u < {int(0.9 * (1 << 28))} THEN 'val'
                        ELSE 'test' END AS split
            FROM (
              SELECT doc_id,
                     ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                                     1, 7))::BIGINT AS u
              FROM documents)
        """,
        "dsir_weights": """
            WITH rt AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                 x -> x <> '') AS toks
              FROM documents),
            grams AS (
              SELECT doc_id, unnest(toks) AS g FROM rt
              UNION ALL
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i+1])) AS g
              FROM rt),
            feats AS (
              SELECT doc_id,
                     ('0x' || substr(md5(g), 1, 7))::BIGINT % 1009 AS bucket,
                     CAST(count(*) AS BIGINT) AS tf
              FROM grams GROUP BY 1, 2),
            tfeats AS (SELECT * FROM feats WHERE doc_id < 50),
            rc AS (SELECT bucket, sum(tf) AS rc FROM feats GROUP BY 1),
            tc AS (SELECT bucket, sum(tf) AS tc FROM tfeats GROUP BY 1),
            tot AS (SELECT (SELECT sum(tf) FROM feats) AS rt,
                           (SELECT sum(tf) FROM tfeats) AS tt),
            lam AS (
              SELECT COALESCE(rc.bucket, tc.bucket) AS bucket,
                     CAST(round((ln((COALESCE(tc, 0) + 1) / (tt + 1009.0))
                               - ln((COALESCE(rc, 0) + 1) / (rt + 1009.0)))
                              * 1000000) AS BIGINT) AS lam_e6
              FROM rc FULL OUTER JOIN tc ON rc.bucket = tc.bucket
              CROSS JOIN tot),
            scored AS (
              SELECT f.doc_id,
                     CAST(sum(f.tf) AS BIGINT) AS n_feats,
                     CAST(sum(f.tf * l.lam_e6) AS BIGINT) AS logw_e6
              FROM feats f JOIN lam l USING (bucket) GROUP BY 1)
            SELECT d.doc_id,
                   COALESCE(s.n_feats, 0) AS n_feats,
                   COALESCE(s.logw_e6, 0) AS logw_e6
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "chunk_text": f"""
            WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents),
            st AS (
              SELECT doc_id, toks,
                     unnest(list_filter(
                       range(0, greatest(len(toks), 1), 48),
                       s -> s = 0 OR s + 16 < len(toks))) AS start
              FROM t WHERE len(toks) > 0),
            numbered AS (
              SELECT doc_id, toks, start,
                     CAST(row_number() OVER
                          (PARTITION BY doc_id ORDER BY start) - 1
                          AS BIGINT) AS chunk_id
              FROM st)
            SELECT doc_id, chunk_id,
                   CAST(len(toks[start + 1: start + 64]) AS BIGINT)
                     AS n_tokens,
                   array_to_string(toks[start + 1: start + 64], ' ') AS text
            FROM numbered
        """,
        "perplexity_buckets": f"""
            WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents),
            term_doc AS (
              SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM (SELECT doc_id, unnest(toks) AS term FROM t)
              GROUP BY 1, 2),
            vocab AS (
              SELECT term, CAST(sum(tf) AS BIGINT) AS ctf
              FROM term_doc GROUP BY 1),
            tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS total FROM vocab),
            scored AS (
              SELECT td.doc_id,
                     CAST(round(
                       sum(td.tf * -ln(v.ctf / CAST(tot.total AS DOUBLE)))
                         / sum(td.tf) * 1000000) AS BIGINT) AS mean_nll_e6
              FROM term_doc td JOIN vocab v USING (term) CROSS JOIN tot
              GROUP BY 1),
            allscored AS (
              SELECT d.doc_id, d.lang,
                     COALESCE(s.mean_nll_e6, 0) AS mean_nll_e6
              FROM documents d LEFT JOIN scored s USING (doc_id)),
            ranked AS (
              SELECT doc_id, lang, mean_nll_e6,
                     CAST(row_number() OVER
                          (PARTITION BY lang ORDER BY mean_nll_e6, doc_id) - 1
                          AS BIGINT) AS pos,
                     CAST(count(*) OVER (PARTITION BY lang) - 1
                          AS BIGINT) AS den
              FROM allscored)
            SELECT doc_id, lang, mean_nll_e6,
                   pos * 1000000 // greatest(den, 1) AS pos_ppm,
                   CASE WHEN pos * 1000000 // greatest(den, 1) < 333334
                        THEN 'head'
                        WHEN pos * 1000000 // greatest(den, 1) < 666667
                        THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM ranked
        """,
        "near_contamination": _near_contamination_oracle(16, 4, 300000),
        "bm25_search": f"""
            WITH t AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents),
            stats AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(coalesce(len(toks), 0)) AS DOUBLE)
                       / count(*) AS avgdl
              FROM t),
            posting AS (
              SELECT doc_id,
                     CAST(coalesce(len(toks), 0) AS BIGINT) AS dl,
                     unnest(list_filter(
                       toks, x -> x IN ('merge', 'spark', 'window')))
                       AS term
              FROM t),
            tf AS (
              SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf
              FROM posting GROUP BY 1, 2, 3),
            df AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY 1)
            SELECT tf.doc_id, tf.dl,
                   CAST(count(*) AS BIGINT) AS n_terms,
                   CAST(round(sum(
                     ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
                     * tf.tf * 2.2
                     / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
                   ) * 1000000) AS BIGINT) AS score_e6
            FROM tf JOIN df USING (term) CROSS JOIN stats s
            GROUP BY 1, 2
            ORDER BY score_e6 DESC, doc_id ASC LIMIT 25
        """,
    }


def retired_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Rows rotated OUT of the 50-row driver contract (round 5, then
    round 6 — VERDICT r5 "Next round #1") to make room for newer
    operators. Still first-class: tests/test_retired.py runs every
    (query, oracle) pair below against DuckDB at sf0.001 with the
    driver's own comparator."""
    return {
        # round-12 retirement (rotation 8: slot carries kn_logprob —
        # order-3 JM arithmetic stays pinned here plus transitively
        # through the live order-5 row and the exact-equality tests)
        "trigram_logprob": q_trigram_logprob,
        # round-11 retirement (rotation 7: the live semantic_dedup row
        # now carries the auto-C scale shape — VERDICT r10 Next #2;
        # the fixed-C=8 baseline stays oracle-checked here)
        "semantic_dedup_c8": q_semantic_dedup_c8,
        # round-10 retirement (rotation 6: slot carries lm_fixed_ref;
        # order-2 self-scoring stays live via bigram_logprob_lang and
        # exact-equality-pinned to the order-N scorer)
        "bigram_logprob": q_bigram_logprob,
        # round-8 retirements (rotation 4: two-round-stable r5
        # promotions make room for ivf_pq_topk / trigram_logprob /
        # url_dedup / lm_stream_counts)
        "line_dedup": q_line_dedup,
        "span_stats": q_span_stats,
        "ngram_counts": q_ngram_counts,
        "tfidf_top_terms": q_tfidf_top_terms,
        "bloom_registers": q_bloom_registers,
        "mixture_sample": q_mixture_sample,
        # round-7 retirements (superseded by strictly-stronger live
        # siblings: bigram_logprob and near_dedup_quality)
        "unigram_logprob": q_unigram_logprob,
        "near_dedup_keep": q_near_dedup_keep,
        # round-7 retirement (r1-r4 stable; slot carries the
        # per-language LM row — winnowing stays covered by the retired
        # `winnow` row + winnow_fingerprints pytest oracles)
        "winnow_pairs": q_winnow_pairs,
        # round-7 retirements (rotation 3b: superseded scale paths)
        "embedding_lsh_self": q_embedding_lsh_self,
        "embedding_ivf_topk": q_embedding_ivf_topk,
        # round-7 retirements (rotation 3: long-stable r2-r4 rows)
        "embedding_topk": q_embedding_topk,
        "cluster_histogram": q_cluster_histogram,
        "cluster_members": q_cluster_members,
        "bpe_tokens": q_bpe_tokens,
        "pii_scrub": q_pii_scrub,
        "pack_shards": q_pack_shards,
        "simhash_pairs": q_simhash_pairs,
        # round-6 retirements (green since r2-r3)
        "sessionize": q_sessionize,
        "hourly_rollup": q_hourly_rollup,
        "topk_per_type": q_topk_per_type,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "fingerprint": q_fingerprint,
        "dedup_exact": q_dedup_exact,
        "jaccard_pairs": q_jaccard_pairs,
        "quality": q_quality,
        "token_stats": q_token_stats,
        # round-5 retirements
        "paging_offset": q_paging_offset,
        "distinct_on": q_distinct_on,
        "anti_join": q_anti_join,
        "semi_join": q_semi_join,
        "facets": q_facets,
        "collect_set": q_collect_set,
        "json_props": q_json_props,
        "running_total": q_running_total,
        "latest_version": q_latest_version,
        "winnow": q_winnow,
        "minhash_signatures": q_minhash_signatures,
        "simhash": q_simhash,
        "stratified_sample": q_stratified_sample,
        "token_budget": q_token_budget,
    }


def _retired_literals() -> dict[str, str]:
    return {
        "semantic_dedup_c8": _semantic_dedup_oracle(k=8),
        "latest_version": f"""
            SELECT o_custkey, o_orderkey AS latest_orderkey,
                   strftime(o_orderdate, '{TS_FMT_DUCK}') AS latest_date
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY o_custkey
                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders) WHERE rn = 1
        """,
        "paging_offset": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer
            ORDER BY c_custkey LIMIT 50 OFFSET 100
        """,
        "distinct_on": """
            SELECT l_orderkey, l_linenumber, l_partkey,
                   CAST(round(l_extendedprice*100, 0) AS BIGINT) AS price_cents
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY l_orderkey
                ORDER BY l_linenumber, l_partkey, l_extendedprice) AS rn
              FROM lineitem) WHERE rn = 1
        """,
        "anti_join": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (
              SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "semi_join": """
            SELECT c_custkey, c_name FROM customer c
            WHERE EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        """,
        "facets": """
            SELECT 'o_orderstatus' AS facet_type, o_orderstatus AS facet_value,
                   count(*) AS n
            FROM orders GROUP BY o_orderstatus
            UNION ALL
            SELECT 'o_orderpriority', o_orderpriority, count(*)
            FROM orders GROUP BY o_orderpriority
        """,
        "collect_set": """
            SELECT o_custkey,
                   array_to_string(
                     list_sort(list(DISTINCT o_orderpriority)), ','
                   ) AS priorities
            FROM orders GROUP BY o_custkey
        """,
        "json_props": """
            SELECT event_type,
                   CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
                   count(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                              THEN 1 END) AS n_with_k
            FROM events GROUP BY event_type
        """,
        "running_total": f"""
            SELECT user_id, event_id,
                   count(*) OVER w AS cum_events,
                   CAST(sum(CAST(round(value*100, 0) AS BIGINT)) OVER w AS BIGINT) AS cum_cents
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING)
        """,
        "winnow": """
            WITH t AS (
              SELECT doc_id,
                     regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS norm
              FROM documents),
            g AS (
              SELECT doc_id,
                     CAST(greatest(length(norm) - 4, 0) AS INTEGER) AS n_grams,
                     CASE WHEN length(norm) >= 5 THEN
                       list_transform(range(1, length(norm) - 3),
                         i -> ('0x' || substr(md5(substr(norm, i, 5)), 1, 7))::BIGINT)
                     ELSE [] END AS hashes
              FROM t),
            wn AS (
              SELECT doc_id, n_grams,
                     CASE WHEN n_grams = 0 THEN []
                          WHEN n_grams < 4 THEN [list_min(hashes)]
                          ELSE list_transform(range(1, n_grams - 2),
                                 i -> list_min(hashes[i:i+3]))
                     END AS wins
              FROM g)
            SELECT doc_id, n_grams,
                   CAST(len(list_distinct(wins)) AS INTEGER) AS n_fingerprints,
                   md5(array_to_string(list_sort(list_distinct(wins)), ','))
                     AS fp_md5
            FROM wn
        """,
        "minhash_signatures": _minhash_oracle(),
        "simhash": _simhash_oracle(24),
        "stratified_sample": """
            WITH r AS (
              SELECT doc_id, lang,
                     CAST(row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT)
                       AS sample_rank
              FROM documents)
            SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= 40
        """,
        "token_budget": f"""
            WITH t AS (
              SELECT doc_id, lang,
                     CAST(len({_TOKS}) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, lang, n_tokens,
                     CAST(sum(n_tokens) OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR))
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_tokens
              FROM t)
            SELECT doc_id, lang, n_tokens, cum_tokens
            FROM c WHERE cum_tokens <= 2000
        """,
    }


# ---- round-6 oracle SQL ---------------------------------------------


def _hybrid_oracle(qterms, k=20, k_each=50, rrf_k=60, query_id=0) -> str:
    """Both retrieval arms + the integer RRF fusion in one SQL —
    mirrors pipeline/similarity.py hybrid_search (ann='brute')."""
    qlist = ", ".join(f"'{t}'" for t in sorted(set(qterms)))
    return f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(coalesce(len(toks), 0)) AS DOUBLE) / count(*)
                   AS avgdl
          FROM t),
        posting AS (
          SELECT doc_id, CAST(coalesce(len(toks), 0) AS BIGINT) AS dl,
                 unnest(list_filter(toks, x -> x IN ({qlist}))) AS term
          FROM t),
        tf AS (
          SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf
          FROM posting GROUP BY 1, 2, 3),
        dft AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        bm25 AS (
          SELECT tf.doc_id,
                 CAST(round(sum(
                   ln((s.n - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
                 ) * 1000000) AS BIGINT) AS score_e6
          FROM tf JOIN dft USING (term) CROSS JOIN stats s
          GROUP BY 1
          ORDER BY score_e6 DESC, doc_id ASC LIMIT {k_each}),
        lex AS (
          SELECT doc_id, CAST(row_number() OVER (
            ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS lex_rank
          FROM bm25),
        qv AS (
          SELECT embedding::DOUBLE[] AS v FROM embeddings
          WHERE vec_id = {query_id}),
        scored AS (
          SELECT vec_id AS doc_id,
                 round(list_dot_product(qv.v, embedding::DOUBLE[]) /
                       (sqrt(list_dot_product(qv.v, qv.v)) *
                        sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))),
                       6) AS score
          FROM embeddings, qv WHERE vec_id <> {query_id}),
        sem AS (
          SELECT doc_id, CAST(rn AS BIGINT) AS sem_rank FROM (
            SELECT doc_id, row_number() OVER (
              ORDER BY score DESC, doc_id) AS rn
            FROM scored) WHERE rn <= {k_each}),
        fused AS (
          SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
                 l.lex_rank, s.sem_rank,
                 coalesce(1000000000 // ({rrf_k} + l.lex_rank), 0)
                 + coalesce(1000000000 // ({rrf_k} + s.sem_rank), 0)
                   AS rrf_e9
          FROM lex l FULL OUTER JOIN sem s USING (doc_id))
        SELECT doc_id, lex_rank, sem_rank, rrf_e9 FROM fused
        ORDER BY rrf_e9 DESC, doc_id ASC LIMIT {k}
    """


def _lsh_quantized_oracle(k=5, n_planes=10, n_tables=4, dim=64,
                          query_where="a.vec_id % 50 = 0") -> str:
    """The quantized serving chain rebuilt in SQL: symmetric int8
    quantize -> plane signs on CODES -> bucket join -> exact
    cosine(query_float, codes) re-score (scale invariance)."""
    from mod_reservoir_spark.pipeline.similarity import _plane_component

    def plane_lit(t, p):
        vals = ", ".join(
            repr(_plane_component(t, p, d)) for d in range(dim)
        )
        return f"[{vals}]"

    bucket_exprs = []
    for t in range(n_tables):
        bits = " || ".join(
            f"(CASE WHEN list_dot_product(c, {plane_lit(t, p)}) >= 0 "
            "THEN '1' ELSE '0' END)"
            for p in range(n_planes)
        )
        bucket_exprs.append(
            f"SELECT vec_id, {t} AS tbl, {bits} AS bucket FROM q8"
        )
    buckets_sql = "\n      UNION ALL ".join(bucket_exprs)
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
      SELECT vec_id, v,
             CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                  THEN list_max(list_transform(v, x -> abs(x))) / 127.0
                  ELSE 0.0 END AS scale
      FROM e),
    q8 AS (
      SELECT vec_id,
             list_transform(v, x -> CASE WHEN scale > 0
                  THEN round(x / scale) ELSE 0.0 END) AS c
      FROM s),
    buckets AS (
      {buckets_sql}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM buckets a JOIN buckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket
      WHERE {query_where} AND a.vec_id <> b.vec_id),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_dot_product(q.v, n.c) /
                   (sqrt(list_dot_product(q.v, q.v)) *
                    sqrt(list_dot_product(n.c, n.c))), 6) AS score
      FROM cand c
      JOIN e q ON q.vec_id = c.query_id
      JOIN q8 n ON n.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id, score, rn AS rnk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rn
      FROM scored)
    WHERE rn <= {k}
    """


def _semantic_dedup_oracle(k=8, iters=2, threshold=0.95, d=64) -> str:
    """SemDeDup end-to-end: planted scaled copies (as in
    q_semantic_dedup), unrolled-Lloyd k-means to the FINAL centroids,
    6-decimal cosine assignment (tie -> lowest cell), within-cell
    pairs at >= threshold, recursive-CTE components, min-id keeper.

    ``k="auto"`` replicates similarity.auto_clusters: C = max(16,
    ceil(n / 64)) derived from the SAME corpus count — the scale
    shape the live row pins since r11 (the C grows with N, so the
    oracle must derive it, not hardcode it)."""
    k_sql = (
        "(SELECT greatest(16, CAST(ceil(count(*) / 64.0) AS BIGINT)) FROM e)"
        if k == "auto"
        else str(k)
    )
    parts = [f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
          UNION ALL
          SELECT vec_id + 100000,
                 list_transform(embedding::DOUBLE[], x -> x * 1.5)
          FROM embeddings WHERE vec_id % 25 = 0),
    c0 AS (
      SELECT cell, cv FROM (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                 AS cell,
               ev AS cv
        FROM e)
      WHERE cell < {k_sql})"""]
    for i in range(iters):
        parts.append(f"""
    s{i} AS (
      SELECT v.vec_id, c.cell,
             round(list_dot_product(v.ev, c.cv) /
                   (sqrt(list_dot_product(v.ev, v.ev)) *
                    sqrt(list_dot_product(c.cv, c.cv))), 6) AS score
      FROM e v CROSS JOIN c{i} c),
    a{i} AS (
      SELECT vec_id, cell FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
        FROM s{i})
      WHERE rn = 1),
    m{i} AS (
      SELECT a.cell, r.i AS dim, avg(v.ev[r.i]) AS val
      FROM a{i} a JOIN e v USING (vec_id), range(1, {d + 1}) r(i)
      GROUP BY 1, 2),
    c{i + 1} AS (
      SELECT p.cell, COALESCE(n.cv, p.cv) AS cv
      FROM c{i} p LEFT JOIN (
        SELECT cell, list(val ORDER BY dim) AS cv
        FROM m{i} GROUP BY cell) n
      USING (cell))""")
    parts.append(f"""
    sf AS (
      SELECT v.vec_id, c.cell,
             round(list_dot_product(v.ev, c.cv) /
                   (sqrt(list_dot_product(v.ev, v.ev)) *
                    sqrt(list_dot_product(c.cv, c.cv))), 6) AS score
      FROM e v CROSS JOIN c{iters} c),
    af AS (
      SELECT vec_id, cell FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
        FROM sf)
      WHERE rn = 1),
    pr AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE round(list_dot_product(ea.ev, eb.ev) /
                  (sqrt(list_dot_product(ea.ev, ea.ev)) *
                   sqrt(list_dot_product(eb.ev, eb.ev))), 6)
            >= {threshold}),
    e2 AS (
      SELECT doc_a AS src, doc_b AS dst FROM pr
      UNION
      SELECT doc_b, doc_a FROM pr),
    reach AS (
      SELECT src AS id, dst AS r FROM e2
      UNION
      SELECT reach.id, e2b.dst FROM reach JOIN e2 e2b ON reach.r = e2b.src),
    comp AS (
      SELECT id, least(min(r), id) AS keep_id FROM reach GROUP BY id)""")
    return ("WITH RECURSIVE " + ",".join(parts) + """
    SELECT e.vec_id,
           COALESCE(comp.keep_id, e.vec_id) AS keep_id,
           (CASE WHEN COALESCE(comp.keep_id, e.vec_id) = e.vec_id
                 THEN 1 ELSE 0 END)::BIGINT AS is_kept
    FROM e LEFT JOIN comp ON comp.id = e.vec_id
    """)


def _rm_spans_oracle(k=8) -> str:
    """ExactSubstr surgery replayed in list SQL: k-token window md5s,
    first-occurrence ownership (row_number over (doc_id, pos)), span
    chain-merge where consecutive dup starts differ < k, gap-slice
    reassembly."""
    foot = _SPAN_FOOTER
    return f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || '{foot}'
                  ELSE text END AS text
      FROM documents),
    t AS (SELECT doc_id, {_TOKS} AS toks FROM d),
    w0 AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(toks) - {k - 2}, 1)),
               i -> {{'pos': i - 1,
                     'wh': md5(array_to_string(toks[i:i + {k - 1}],
                                               ' '))}})) AS s
      FROM t),
    w AS (SELECT doc_id, s.pos AS pos, s.wh AS wh FROM w0),
    occ AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY wh) AS n_occ,
             row_number() OVER (
               PARTITION BY wh ORDER BY doc_id, pos) AS rn
      FROM w),
    st AS (
      SELECT doc_id, list_sort(list(pos)) AS starts
      FROM occ WHERE n_occ >= 2 AND rn > 1 GROUP BY doc_id),
    m AS (
      SELECT t.doc_id, t.toks,
             COALESCE(s.starts, []::BIGINT[]) AS starts,
             len(COALESCE(s.starts, []::BIGINT[])) AS ns
      FROM t LEFT JOIN st s USING (doc_id)),
    sp AS (
      SELECT doc_id, toks, starts, ns,
             list_transform(range(1, ns),
               j -> starts[j + 1] - starts[j] >= {k}) AS brk
      FROM m),
    spans AS (
      SELECT doc_id, toks,
        list_filter(list_transform(range(1, ns + 1),
          j -> CASE WHEN j = 1 OR brk[j - 1] THEN starts[j] END),
          x -> x IS NOT NULL) AS sa,
        list_transform(list_filter(list_transform(range(1, ns + 1),
          j -> CASE WHEN j = ns OR brk[j] THEN starts[j] END),
          x -> x IS NOT NULL), s -> s + {k}) AS sb
      FROM sp),
    gaps AS (
      SELECT doc_id, toks,
             [0]::BIGINT[] || sb AS gs,
             sa || [len(toks)]::BIGINT[] AS ge
      FROM spans),
    kept AS (
      SELECT doc_id, toks,
             flatten(list_transform(range(1, len(gs) + 1),
               g -> toks[gs[g] + 1:ge[g]])) AS kt
      FROM gaps)
    SELECT doc_id,
           COALESCE(array_to_string(kt, ' '), '') AS text,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(toks) - len(kt) AS BIGINT) AS n_removed
    FROM kept
    """


def _logreg_oracle(buckets=64, iterations=5, lr=2.0, l2=1e-6) -> str:
    """The IDENTICAL full-batch gradient-descent trajectory unrolled
    in SQL: hashed-unigram L1-normalized features, per-iteration
    sigmoid + gradient + weight update, micro-quantized final
    weights. Bias lives at bucket = buckets."""
    # every CTE in the unrolled chain is MATERIALIZED: DuckDB inlines
    # CTEs by default, and each iteration references the previous
    # weights several times — inlining re-expands the whole chain and
    # the plan grows exponentially with the iteration count
    parts = [f"""
    t AS MATERIALIZED (SELECT doc_id,
                 CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                 {_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, unnest(toks) AS gram FROM t),
    f AS (SELECT doc_id,
                 ('0x' || substr(md5(gram), 1, 7))::BIGINT % {buckets}
                   AS bucket,
                 CAST(count(*) AS DOUBLE) AS tf
          FROM g GROUP BY 1, 2),
    tot AS (SELECT doc_id, sum(tf) AS tot FROM f GROUP BY 1),
    x AS MATERIALIZED (
          SELECT f.doc_id, t.y, f.bucket, f.tf / tot.tot AS val
          FROM f JOIN tot USING (doc_id) JOIN t USING (doc_id)),
    nn AS MATERIALIZED (
          SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM x),
    w0 AS MATERIALIZED (
           SELECT CAST(r.b AS BIGINT) AS bucket, 0.0 AS w
           FROM range(0, {buckets + 1}) r(b))"""]
    for i in range(iterations):
        parts.append(f"""
    p{i} AS MATERIALIZED (
      SELECT x.doc_id, any_value(x.y) AS y,
             1.0 / (1.0 + exp(-(sum(x.val * w.w)
               + (SELECT w FROM w{i} WHERE bucket = {buckets})))) AS p
      FROM x JOIN w{i} w USING (bucket) GROUP BY x.doc_id),
    g{i} AS MATERIALIZED (
      SELECT x.bucket, sum((p.p - p.y) * x.val) AS grad
      FROM x JOIN p{i} p USING (doc_id) GROUP BY x.bucket
      UNION ALL
      SELECT {buckets}, sum(p.p - p.y) FROM p{i} p),
    w{i + 1} AS MATERIALIZED (
      SELECT w.bucket,
             w.w - {lr} * (COALESCE(g.grad, 0) / nn.n + {l2} * w.w) AS w
      FROM w{i} w LEFT JOIN g{i} g USING (bucket) CROSS JOIN nn)""")
    return ("WITH " + ",".join(parts) + f"""
    SELECT bucket, CAST(round(w * 1000000) AS BIGINT) AS w_e6
    FROM w{iterations}""")


def _r6_oracles() -> dict[str, str]:
    return {
        "hybrid_search": _hybrid_oracle(["merge", "spark", "window"]),
        "lsh_topk_quantized": _lsh_quantized_oracle(),
        "bm25_indexed": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            stats AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(coalesce(len(toks), 0)) AS DOUBLE)
                       / count(*) AS avgdl
              FROM t),
            posting AS (
              SELECT doc_id,
                     CAST(coalesce(len(toks), 0) AS BIGINT) AS dl,
                     unnest(list_filter(
                       toks, x -> x IN ('filter', 'join', 'scan')))
                       AS term
              FROM t),
            tf AS (
              SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf
              FROM posting GROUP BY 1, 2, 3),
            df AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY 1)
            SELECT tf.doc_id, tf.dl,
                   CAST(count(*) AS BIGINT) AS n_terms,
                   CAST(round(sum(
                     ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
                     * tf.tf * 2.2
                     / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
                   ) * 1000000) AS BIGINT) AS score_e6
            FROM tf JOIN df USING (term) CROSS JOIN stats s
            GROUP BY 1, 2
            ORDER BY score_e6 DESC, doc_id ASC LIMIT 25
        """,
        "semantic_dedup": _semantic_dedup_oracle(k="auto"),
        "remove_duplicate_spans": _rm_spans_oracle(),
        "normalize_text": """
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN text || ' caf' || chr(101) || chr(769)
                               || ' ' || chr(64257) || 'n'
                          ELSE text END AS text
              FROM documents)
            SELECT doc_id, nfc_normalize(text) AS text,
                   (CASE WHEN nfc_normalize(text) <> text
                         THEN 1 ELSE 0 END)::BIGINT AS changed
            FROM d
        """,
        "domain_quality": f"""
            WITH d AS (
              SELECT doc_id,
                     text || ' see http://' || source
                          || '.example.com/p' AS text
              FROM documents),
            t AS (SELECT doc_id, text, {_TOKS} AS toks FROM d),
            q AS (
              SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                (length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                  * 1000000) // greatest(length(text), 1) AS punct_ppm,
                (len(list_distinct(toks)) * 1000000)
                  // greatest(len(toks), 1) AS distinct_ppm,
                CAST(len(str_split(text, chr(10))) AS BIGINT) AS n_lines,
                CAST(len(list_distinct(str_split(text, chr(10))))
                     AS BIGINT) AS n_dlines
              FROM t),
            bg AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i+1])) AS bg
              FROM t WHERE len(toks) >= 2),
            cnts AS (
              SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
            top AS (
              SELECT doc_id, max(cnt) AS mx,
                     CAST(sum(cnt) AS BIGINT) AS total
              FROM cnts GROUP BY 1),
            sig AS (
              SELECT q.doc_id, q.n_tokens, q.punct_ppm, q.distinct_ppm,
                     CASE WHEN q.n_lines > 0
                          THEN (q.n_lines - q.n_dlines) * 1000000
                               // q.n_lines
                          ELSE 0 END AS dup_line_ppm,
                     COALESCE(top.mx * 1000000 // top.total, 0)
                       AS top_bigram_ppm
              FROM q LEFT JOIN top USING (doc_id)),
            reasons AS (
              SELECT doc_id, n_tokens,
                COALESCE(array_to_string(list_sort(list_filter([
                  CASE WHEN n_tokens < 20 THEN 'too_short' END,
                  CASE WHEN dup_line_ppm > 300000 THEN 'dup_lines' END,
                  CASE WHEN top_bigram_ppm > 180000
                       THEN 'repeated_bigram' END,
                  CASE WHEN distinct_ppm < 200000 THEN 'low_diversity' END,
                  CASE WHEN punct_ppm > 250000 THEN 'punct_heavy' END
                ], x -> x IS NOT NULL)), ','), '') AS reject_reasons
              FROM sig),
            urls AS (
              SELECT doc_id,
                     min(lower(regexp_extract(text,
                       'https?://([A-Za-z0-9.-]+)', 1))) AS host
              FROM d GROUP BY doc_id),
            j AS (
              SELECT r.doc_id, r.n_tokens, r.reject_reasons,
                     CASE WHEN r.reject_reasons = '' THEN 1 ELSE 0 END
                       AS keep,
                     COALESCE(u.host, '') AS host
              FROM reasons r LEFT JOIN urls u USING (doc_id))
            SELECT host,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(keep) AS BIGINT) AS n_keep,
                   CAST((sum(keep) * 1000000) // count(*) AS BIGINT)
                     AS keep_ppm,
                   CAST(round(avg(n_tokens)) AS BIGINT) AS avg_tokens,
                   COALESCE(array_to_string(list_sort(
                     list(reject_reasons)
                       FILTER (reject_reasons <> '')), ';'), '')
                     AS reject_csv
            FROM j GROUP BY host
        """,
        "extract_html": """
            WITH n AS (
              SELECT doc_id,
                     trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
              FROM documents)
            SELECT doc_id,
                   CASE WHEN length(norm) >= 20 THEN norm
                        ELSE '' END AS text,
                   (CASE WHEN norm <> '' THEN 3 ELSE 2 END)::BIGINT
                     AS n_blocks,
                   (CASE WHEN length(norm) >= 20 THEN 1 ELSE 0
                    END)::BIGINT AS n_kept_blocks
            FROM n
        """,
        "logreg_train": _logreg_oracle(),
    }


def _leakage_oracle() -> str:
    pairs_sql = _minhash_lsh_oracle(16, 4, 300000)
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({pairs_sql})
    ),
    e2 AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT src AS id, dst AS r FROM e2
      UNION
      SELECT reach.id, e.dst FROM reach JOIN e2 e ON reach.r = e.src
    ),
    comp AS (
      SELECT id, least(min(r), id) AS keep_id FROM reach GROUP BY id
    ),
    grp AS (
      SELECT d.doc_id, COALESCE(c.keep_id, d.doc_id) AS keep_id
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
      WHERE d.doc_id IS NOT NULL
    )
    SELECT doc_id, keep_id,
           CASE WHEN u < {int(0.98 * (1 << 28))} THEN 'train'
                WHEN u < {int(0.99 * (1 << 28))} THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, keep_id,
             ('0x' || substr(md5('split:' || CAST(keep_id AS VARCHAR)),
                             1, 7))::BIGINT AS u
      FROM grp)
    """


# ---- round-7 oracles ------------------------------------------------

_BPE_RE_SQL = (
    "'''(?:s|t|re|ve|m|ll|d)"
    "| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'"
)


def _bm25_batch_oracle(k=10, k1=1.2, b=0.75) -> str:
    """Per-query BM25 over the corpus postings (the bm25_search_batch
    semantics: global df, n_terms = matching distinct query terms,
    per-query row_number top-k), duplicated across both routing
    regimes — broadcast and past-cutover shuffle return identical
    rows by construction, so one ranked table cross-joined with the
    route labels is the exact union the Spark row emits."""
    qterms = []
    for qid, q in _BM25_BATCH_QUERIES:
        for t in {t for t in q.lower().split() if t}:
            qterms.append(f"({qid}, '{t}')")
    all_terms = sorted(
        {t for _qid, q in _BM25_BATCH_QUERIES for t in q.lower().split()}
    )
    tlist = ", ".join(f"'{t}'" for t in all_terms)
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(coalesce(len(toks), 0)) AS DOUBLE) / count(*)
               AS avgdl
      FROM t),
    qt(query_id, term) AS (VALUES {', '.join(qterms)}),
    posting AS (
      SELECT doc_id, CAST(coalesce(len(toks), 0) AS BIGINT) AS dl,
             unnest(list_filter(toks, x -> x IN ({tlist}))) AS term
      FROM t),
    tf AS (
      SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf
      FROM posting GROUP BY 1, 2, 3),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT qt.query_id, tf.doc_id, tf.dl,
             CAST(count(*) AS BIGINT) AS n_terms,
             CAST(round(sum(
               ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * ({k1} + 1.0)
               / (tf.tf + {k1} * (1.0 - {b} + {b} * tf.dl / s.avgdl))
             ) * 1000000) AS BIGINT) AS score_e6
      FROM tf JOIN df USING (term) JOIN qt USING (term)
      CROSS JOIN stats s
      GROUP BY 1, 2, 3),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score_e6 DESC, doc_id ASC) AS rnk
      FROM scored)
    SELECT rt.route, CAST(query_id AS BIGINT) AS query_id, doc_id, dl,
           n_terms, score_e6, CAST(rnk AS INTEGER) AS rnk
    FROM ranked CROSS JOIN (VALUES ('broadcast'), ('shuffle')) rt(route)
    WHERE rnk <= {k}
    """


def _chunk_sequences_oracle(seq_len=64, shard_tokens=2000) -> str:
    """chunk_sequences replicated: md5 layout order, +1 eos token per
    doc, global-offset shard cut, per-shard stream index, full
    sequences only."""
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    o AS (
      SELECT doc_id, toks || ['<|eos|>'] AS te,
             md5(CAST(doc_id AS VARCHAR)) AS ord,
             CAST(len(toks) + 1 AS BIGINT) AS n
      FROM t),
    c AS (
      SELECT *, sum(n) OVER (
        ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) - n AS bef
      FROM o),
    s AS (SELECT te, ord,
                 CAST(bef // {shard_tokens} AS BIGINT) AS shard_id
          FROM c),
    stream AS (
      SELECT shard_id, ord, u.i AS i, u.tok AS tok
      FROM s, unnest(list_transform(range(1, len(te) + 1),
             i -> struct_pack(i := i, tok := te[i]))) AS t2(u)),
    idx AS (
      SELECT shard_id, tok,
             row_number() OVER (
               PARTITION BY shard_id ORDER BY ord, i) - 1 AS idx
      FROM stream),
    grp AS (
      SELECT shard_id, idx // {seq_len} AS seq_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             string_agg(tok, ' ' ORDER BY idx) AS tok_csv
      FROM idx GROUP BY 1, 2)
    SELECT shard_id, seq_id, n_tokens, tok_csv
    FROM grp WHERE n_tokens = {seq_len}
    """


def _bpe_train_oracle(n_merges=10, min_count=2) -> str:
    """The IDENTICAL 10-merge BPE trajectory unrolled in SQL. Words
    are encoded as chr(31)-wrapped symbol strings
    (<31>s1<31><31>s2<31>…), so the non-overlapping left-to-right
    merge of bpe_train_from_counts is ONE replace() per word per
    iteration (replace resumes scanning after each substitution —
    exactly the BPE overlap rule), and pair counts come from
    re-splitting on the double separator. Ties: ORDER BY cnt DESC,
    a, b — the Python (-count, (a, b)) tuple order."""
    sep = "chr(31)"
    sep2 = f"{sep}||{sep}"
    parts = [f"""
    wc AS MATERIALIZED (
      SELECT piece AS word, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT unnest(list_filter(
          regexp_extract_all(text, {_BPE_RE_SQL}),
          x -> regexp_matches(x, '\\S'))) AS piece
        FROM documents)
      GROUP BY 1 HAVING count(*) >= {min_count}),
    w0 AS MATERIALIZED (
      SELECT {sep} || array_to_string(
               list_transform(range(1, length(word) + 1),
                              i -> substring(word, i, 1)), {sep2})
             || {sep} AS ws, n
      FROM wc)"""]
    for i in range(1, n_merges + 1):
        parts.append(f"""
    pc{i} AS MATERIALIZED (
      SELECT u.a AS a, u.b AS b, sum(n) AS cnt FROM (
        SELECT n, str_split(trim(ws, chr(31)), {sep2}) AS syms
        FROM w{i - 1}),
        unnest(list_transform(range(1, len(syms)),
          j -> struct_pack(a := syms[j], b := syms[j + 1]))) AS t(u)
      GROUP BY 1, 2),
    best{i} AS MATERIALIZED (
      SELECT a, b FROM pc{i} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
    w{i} AS MATERIALIZED (
      SELECT replace(ws, {sep}||q.a||{sep2}||q.b||{sep},
                     {sep}||q.a||q.b||{sep}) AS ws, n
      FROM w{i - 1} CROSS JOIN best{i} q)""")
    finals = " UNION ALL ".join(
        f"SELECT CAST({i - 1} AS BIGINT) AS rank, a, b FROM best{i}"
        for i in range(1, n_merges + 1)
    )
    return "WITH " + ",".join(parts) + "\n    " + finals


def _routed_block(sfx, cent, corpus, out, n_centroids=256,
                  rounds=4, probe=2):
    """CTE parts for ONE two-level routing plan + routed assignment
    (similarity.py _branch_plan + _nearest_cells), parameterized so
    the SemDeDup oracle can instantiate it once per Lloyd iteration.

    ``cent``: a CTE name with (cell, v) centroid rows; ``corpus``: a
    CTE name with (vec_id, v, nrm) rows; ``out``: the name of the
    produced (vec_id, cell) assignment CTE. Every decision site is
    round-6 + lowest-id ties — the similarity.py round-7 contract.
    """
    import math

    B = int(math.ceil(math.sqrt(n_centroids)))
    parts = [f"""
    cu{sfx} AS MATERIALIZED (
      SELECT cell, v, sqrt(list_dot_product(v, v)) AS nrm,
             list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
               AS u
      FROM {cent}),
    best{sfx}0 AS MATERIALIZED (
      SELECT c.cell, round(list_dot_product(c.u, s.u), 6) AS best
      FROM cu{sfx} c
      CROSS JOIN (SELECT u FROM cu{sfx} WHERE cell = 0) s)"""]
    for k in range(1, B):
        parts.append(f"""
    seed{sfx}{k} AS MATERIALIZED (
      SELECT cell FROM best{sfx}{k - 1}
      ORDER BY best ASC, cell ASC LIMIT 1),
    best{sfx}{k} AS MATERIALIZED (
      SELECT c.cell,
             greatest(b.best,
                      round(list_dot_product(c.u, s.u), 6)) AS best
      FROM cu{sfx} c JOIN best{sfx}{k - 1} b USING (cell)
      CROSS JOIN (SELECT c2.u FROM cu{sfx} c2
                  JOIN seed{sfx}{k} USING (cell)) s)""")
    bm0 = (
        f"SELECT CAST(0 AS BIGINT) AS b, v FROM cu{sfx} WHERE cell = 0"
    )
    for k in range(1, B):
        bm0 += (
            f" UNION ALL SELECT CAST({k} AS BIGINT), c.v"
            f" FROM cu{sfx} c JOIN seed{sfx}{k} USING (cell)"
        )
    parts.append(f"\n    bm{sfx}0 AS MATERIALIZED ({bm0})")
    for r in range(rounds + 1):  # rounds Lloyd updates + final group
        parts.append(f"""
    gsc{sfx}{r} AS MATERIALIZED (
      SELECT c.cell, m.b,
             round(list_dot_product(c.v, m.v)
                   / (c.nrm * sqrt(list_dot_product(m.v, m.v))), 6)
               AS s
      FROM cu{sfx} c CROSS JOIN bm{sfx}{r} m),
    g{sfx}{r} AS MATERIALIZED (
      SELECT cell, b FROM (
        SELECT cell, b, row_number() OVER (
          PARTITION BY cell ORDER BY s DESC, b ASC) AS rn
        FROM gsc{sfx}{r}) WHERE rn = 1)""")
        if r == rounds:
            break
        parts.append(f"""
    bmu{sfx}{r} AS MATERIALIZED (
      SELECT b, list(ax ORDER BY i) AS v FROM (
        SELECT g.b AS b, ue.i AS i, avg(ue.x) AS ax
        FROM g{sfx}{r} g JOIN cu{sfx} c USING (cell),
             unnest(list_transform(range(1, len(c.v) + 1),
               i -> struct_pack(i := i, x := c.v[i]))) AS t(ue)
        GROUP BY 1, 2)
      GROUP BY b),
    bm{sfx}{r + 1} AS MATERIALIZED (
      SELECT m.b, COALESCE(nu.v, m.v) AS v
      FROM bm{sfx}{r} m LEFT JOIN bmu{sfx}{r} nu USING (b))""")
    parts.append(f"""
    bn{sfx} AS MATERIALIZED (
      SELECT b, v, sqrt(list_dot_product(v, v)) AS bn
      FROM bm{sfx}{rounds}),
    qsc{sfx} AS MATERIALIZED (
      SELECT e.vec_id, m.b,
             round(list_dot_product(e.v, m.v) / (e.nrm * m.bn), 6) AS s
      FROM {corpus} e CROSS JOIN bn{sfx} m),
    top{sfx} AS MATERIALIZED (
      SELECT vec_id, b FROM (
        SELECT vec_id, b, row_number() OVER (
          PARTITION BY vec_id ORDER BY s DESC, b ASC) AS rn
        FROM qsc{sfx}) WHERE rn <= {probe}),
    sc{sfx} AS MATERIALIZED (
      SELECT t.vec_id, c.cell,
             round(list_dot_product(e.v, c.v) / (e.nrm * c.nrm), 6)
               AS s
      FROM top{sfx} t
      JOIN g{sfx}{rounds} g ON g.b = t.b
      JOIN cu{sfx} c USING (cell)
      JOIN {corpus} e ON e.vec_id = t.vec_id),
    {out} AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, row_number() OVER (
          PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rn
        FROM sc{sfx}) WHERE rn = 1)""")
    return parts


def _ivf_routed_oracle(n_centroids=256, rounds=4, probe=2) -> str:
    """The two-level routed assignment (similarity.py _branch_plan +
    _nearest_cells) replicated end-to-end: B=ceil(sqrt(C)) branches
    seeded farthest-point over the unit centroid matrix (round-6
    argmin, lowest-cell ties), 4 Lloyd rounds over the centroids
    (round-6 argmax, lowest-branch ties; empty branches keep their
    centroid), probe-2 branch selection per vector (round-6, lowest-
    branch ties), exact round-6 cosine over the probed branches'
    cells (lowest-cell ties). Every CTE MATERIALIZED — the chain is
    sequential and DuckDB would otherwise inline it exponentially."""
    parts = [f"""
    emb AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(
               embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings),
    cent AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
               AS cell, v
      FROM (SELECT vec_id, v FROM emb
            ORDER BY vec_id LIMIT {n_centroids}))"""]
    parts += _routed_block(
        "_r", "cent", "emb", "assign_r", n_centroids, rounds, probe
    )
    return (
        "WITH " + ",".join(parts)
        + "\n    SELECT vec_id, cell FROM assign_r"
    )


def _semantic_dedup_routed_oracle(
    n_centroids=256, iters=2, threshold=0.95
) -> str:
    """q_semantic_dedup_routed replicated end-to-end: planted scaled
    copies, then per Lloyd iteration a FULL branch plan over the
    current centroids (via _routed_block) + routed corpus assignment
    + corpus-mean update (empty cells keep their centroid), a final
    plan + routed assignment, within-cell pairs, recursive-CTE
    components, min-id keeper."""
    parts = [f"""
    e0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(embedding::DOUBLE[], x -> x * 1.5)
      FROM embeddings WHERE vec_id % 25 = 0),
    e AS MATERIALIZED (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e0),
    c0 AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
               AS cell, v
      FROM (SELECT vec_id, v FROM e
            ORDER BY vec_id LIMIT {n_centroids}))"""]
    for i in range(iters):
        parts += _routed_block(
            f"_k{i}", f"c{i}", "e", f"a{i}", n_centroids
        )
        parts.append(f"""
    mu{i} AS MATERIALIZED (
      SELECT cell, list(ax ORDER BY i) AS v FROM (
        SELECT a.cell AS cell, ue.i AS i, avg(ue.x) AS ax
        FROM a{i} a JOIN e USING (vec_id),
             unnest(list_transform(range(1, len(e.v) + 1),
               i -> struct_pack(i := i, x := e.v[i]))) AS t(ue)
        GROUP BY 1, 2)
      GROUP BY cell),
    c{i + 1} AS MATERIALIZED (
      SELECT p.cell, COALESCE(nu.v, p.v) AS v
      FROM c{i} p LEFT JOIN mu{i} nu USING (cell))""")
    parts += _routed_block(
        "_kf", f"c{iters}", "e", "af", n_centroids
    )
    parts.append(f"""
    pr AS MATERIALIZED (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE round(list_dot_product(ea.v, eb.v)
                  / (ea.nrm * eb.nrm), 6) >= {threshold}),
    e2 AS (
      SELECT doc_a AS src, doc_b AS dst FROM pr
      UNION
      SELECT doc_b, doc_a FROM pr),
    reach AS (
      SELECT src AS id, dst AS r FROM e2
      UNION
      SELECT reach.id, e2b.dst
      FROM reach JOIN e2 e2b ON reach.r = e2b.src),
    comp AS (
      SELECT id, least(min(r), id) AS keep_id FROM reach GROUP BY id)""")
    return ("WITH RECURSIVE " + ",".join(parts) + """
    SELECT e.vec_id,
           COALESCE(comp.keep_id, e.vec_id) AS keep_id,
           (CASE WHEN COALESCE(comp.keep_id, e.vec_id) = e.vec_id
                 THEN 1 ELSE 0 END)::BIGINT AS is_kept
    FROM e LEFT JOIN comp ON comp.id = e.vec_id
    """)


def _pq_chain(m: int = PQ_M, ksub: int = PQ_KSUB, dsub: int = 8) -> str:
    """Shared CTE chain for the PQ contract rows: seed codebooks from
    the ksub smallest vec_ids' subvectors, round-6 L2 assignment
    (lowest-cid ties), ONE per-dimension-mean Lloyd update (empty
    cells keep their seed), re-assignment → codes. Fully derived from
    the embeddings view — no literals, so the SQL is static across
    scale factors. dsub=8 matches the testdata's 64-dim vectors at
    m=8 (pipeline/pq.py pq_train/pq_encode)."""
    return f"""
        seeds AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                 embedding
          FROM embeddings ORDER BY vec_id LIMIT {ksub}
        ),
        subs AS (SELECT unnest(range({m})) AS sub),
        dims AS (SELECT unnest(range(1, {dsub} + 1)) AS i),
        cb0 AS (
          SELECT s.sub, sd.cid, d.i,
                 sd.embedding[s.sub * {dsub} + d.i]::DOUBLE AS v
          FROM seeds sd, subs s, dims d
        ),
        d0 AS (
          SELECT e.vec_id, c.sub, c.cid,
                 round(sum((e.embedding[c.sub * {dsub} + c.i]::DOUBLE
                            - c.v) ^ 2), 6) AS d2
          FROM embeddings e, cb0 c
          GROUP BY e.vec_id, c.sub, c.cid
        ),
        a0 AS (
          SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid, row_number() OVER (
              PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
            FROM d0) WHERE rn = 1
        ),
        m1 AS (
          SELECT a.sub, a.cid, d.i,
                 avg(e.embedding[a.sub * {dsub} + d.i]::DOUBLE) AS v
          FROM a0 a JOIN embeddings e USING (vec_id) CROSS JOIN dims d
          GROUP BY a.sub, a.cid, d.i
        ),
        cb1 AS (
          SELECT c0.sub, c0.cid, c0.i, coalesce(m1.v, c0.v) AS v
          FROM cb0 c0 LEFT JOIN m1
            ON m1.sub = c0.sub AND m1.cid = c0.cid AND m1.i = c0.i
        ),
        d1 AS (
          SELECT e.vec_id, c.sub, c.cid,
                 round(sum((e.embedding[c.sub * {dsub} + c.i]::DOUBLE
                            - c.v) ^ 2), 6) AS d2
          FROM embeddings e, cb1 c
          GROUP BY e.vec_id, c.sub, c.cid
        ),
        a1 AS (
          SELECT vec_id, sub, cid FROM (
            SELECT vec_id, sub, cid, row_number() OVER (
              PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
            FROM d1) WHERE rn = 1
        ),
        pq_codes AS (
          SELECT vec_id, list(cid ORDER BY sub) AS codes
          FROM a1 GROUP BY vec_id
        )"""


def _pq_oracles(m: int = PQ_M, dsub: int = 8, k: int = 5) -> dict[str, str]:
    chain = _pq_chain()
    return {
        "pq_codes": f"""
            WITH {chain}
            SELECT vec_id, sub::BIGINT AS sub, cid::BIGINT AS code
            FROM a1
        """,
        "pq_adc_topk": f"""
            WITH {chain},
            q AS (SELECT vec_id AS query_id, embedding
                  FROM embeddings WHERE vec_id % 50 = 0),
            lut AS (
              SELECT q.query_id, c.sub, c.cid,
                     sum(q.embedding[c.sub * {dsub} + c.i]::DOUBLE
                         * c.v) AS ip
              FROM q, cb1 c GROUP BY q.query_id, c.sub, c.cid
            ),
            n2 AS (
              SELECT sub, cid, sum(v * v) AS n2
              FROM cb1 GROUP BY sub, cid
            ),
            qn AS (
              SELECT query_id, round(sqrt(list_sum(list_transform(
                       embedding, x -> x::DOUBLE * x::DOUBLE))), 9)
                       AS qnorm
              FROM q
            ),
            terms AS (
              SELECT qn.query_id, c.vec_id AS neighbor_id, s.sub,
                     c.codes[s.sub + 1] AS cid
              FROM qn, pq_codes c, subs s
              WHERE c.vec_id <> qn.query_id
            ),
            scored AS (
              SELECT t.query_id, t.neighbor_id,
                     sum(l.ip) AS ip_sum, sum(n2.n2) AS n2_sum
              FROM terms t
              JOIN lut l ON l.query_id = t.query_id
                        AND l.sub = t.sub AND l.cid = t.cid
              JOIN n2 ON n2.sub = t.sub AND n2.cid = t.cid
              GROUP BY t.query_id, t.neighbor_id
            ),
            final AS (
              SELECT s.query_id, s.neighbor_id,
                     CASE WHEN qn.qnorm * sqrt(s.n2_sum) > 0
                          THEN round(s.ip_sum
                                     / (qn.qnorm * sqrt(s.n2_sum)), 6)
                          ELSE 'NaN'::DOUBLE END AS score
              FROM scored s JOIN qn ON qn.query_id = s.query_id
            )
            SELECT query_id, neighbor_id, score, rn AS rnk FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS rn
              FROM final) WHERE rn <= {k}
        """,
    }


def _near_dedup_quality_oracle(num_hashes: int = 16, bands: int = 4,
                               threshold_ppm: int = 300000) -> str:
    """near_dedup_keep(keep_by="n_chars"): same recursive-CTE
    reachability as _near_dedup_keep_oracle, but the keeper per
    component is the ordered-aggregate argmax (n_chars DESC, doc_id
    ASC) — RefinedWeb's keep-longest policy."""
    pairs_sql = _minhash_lsh_oracle(num_hashes, bands, threshold_ppm)
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({pairs_sql})
    ),
    e2 AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      SELECT src AS id, dst AS r FROM e2
      UNION
      SELECT reach.id, e.dst FROM reach JOIN e2 e ON reach.r = e.src
    ),
    comp AS (
      SELECT id, least(min(r), id) AS comp FROM reach GROUP BY id
    ),
    keepers AS (
      SELECT c.comp,
             (array_agg(c.id ORDER BY d.n_chars DESC, c.id ASC))[1]
               AS keep_id
      FROM comp c JOIN documents d ON d.doc_id = c.id
      GROUP BY c.comp
    )
    SELECT d.doc_id,
           COALESCE(k.keep_id, d.doc_id) AS keep_id,
           (CASE WHEN COALESCE(k.keep_id, d.doc_id) = d.doc_id
                 THEN 1 ELSE 0 END)::BIGINT AS is_kept
    FROM documents d
    LEFT JOIN comp c ON c.id = d.doc_id
    LEFT JOIN keepers k ON k.comp = c.comp
    """


def _bigram_logprob_oracle(lam_ppm: int = 800000) -> str:
    """ngram_logprob_scores(docs, 2) replicated: per-doc bigram partials,
    the corpus bigram/context/unigram count tables, the Jelinek-Mercer
    interpolation with the SAME left-associative double arithmetic as
    the Spark expression, and the 1e6 rounding."""
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    big AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
            FROM t WHERE len(toks) >= 2)
    ),
    per_doc AS (
      SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS bf
      FROM big GROUP BY 1, 2, 3
    ),
    cb AS (
      SELECT w1, w2, CAST(sum(bf) AS BIGINT) AS cb
      FROM per_doc GROUP BY 1, 2
    ),
    c1 AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1 FROM cb GROUP BY 1),
    term_doc AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM t)
      GROUP BY 1, 2
    ),
    vocab AS (
      SELECT term, CAST(sum(tf) AS BIGINT) AS ctf FROM term_doc GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS total FROM vocab),
    scored AS (
      SELECT p.doc_id,
             CAST(sum(p.bf) AS BIGINT) AS n_bigrams,
             CAST(round(sum(p.bf * -ln(
                 ({lam_ppm} / 1000000.0) * cb.cb / c1.c1
                 + (1 - {lam_ppm} / 1000000.0) * v.ctf
                   / CAST(tot.total AS DOUBLE)
             )) / sum(p.bf) * 1000000) AS BIGINT) AS mean_nll_e6
      FROM per_doc p
      JOIN cb USING (w1, w2)
      JOIN c1 USING (w1)
      JOIN vocab v ON v.term = p.w2
      CROSS JOIN tot
      GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(s.n_bigrams, 0) AS n_bigrams,
           COALESCE(s.mean_nll_e6, 0) AS mean_nll_e6
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """


def _bigram_logprob_lang_oracle(lam_ppm: int = 800000) -> str:
    """q_bigram_logprob_lang replicated: the _bigram_logprob_oracle
    chain with the lang stratum threaded through every count table,
    join and per-stratum total (one model per language)."""
    return f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    big AS (
      SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2
      FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i
            FROM t WHERE len(toks) >= 2)
    ),
    per_doc AS (
      SELECT doc_id, lang, w1, w2, CAST(count(*) AS BIGINT) AS bf
      FROM big GROUP BY 1, 2, 3, 4
    ),
    cb AS (
      SELECT lang, w1, w2, CAST(sum(bf) AS BIGINT) AS cb
      FROM per_doc GROUP BY 1, 2, 3
    ),
    c1 AS (
      SELECT lang, w1, CAST(sum(cb) AS BIGINT) AS c1 FROM cb GROUP BY 1, 2
    ),
    term_doc AS (
      SELECT doc_id, lang, term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, lang, unnest(toks) AS term FROM t)
      GROUP BY 1, 2, 3
    ),
    vocab AS (
      SELECT lang, term, CAST(sum(tf) AS BIGINT) AS ctf
      FROM term_doc GROUP BY 1, 2
    ),
    tot AS (
      SELECT lang, CAST(sum(ctf) AS BIGINT) AS total FROM vocab GROUP BY 1
    ),
    scored AS (
      SELECT p.doc_id,
             CAST(sum(p.bf) AS BIGINT) AS n_bigrams,
             CAST(round(sum(p.bf * -ln(
                 ({lam_ppm} / 1000000.0) * cb.cb / c1.c1
                 + (1 - {lam_ppm} / 1000000.0) * v.ctf
                   / CAST(tot.total AS DOUBLE)
             )) / sum(p.bf) * 1000000) AS BIGINT) AS mean_nll_e6
      FROM per_doc p
      JOIN cb USING (lang, w1, w2)
      JOIN c1 USING (lang, w1)
      JOIN vocab v ON v.lang = p.lang AND v.term = p.w2
      JOIN tot ON tot.lang = p.lang
      GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(s.n_bigrams, 0) AS n_bigrams,
           COALESCE(s.mean_nll_e6, 0) AS mean_nll_e6
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """


def _r7_oracles() -> dict[str, str]:
    return {
        **_pq_oracles(),
        "near_dedup_quality": _near_dedup_quality_oracle(16, 4, 300000),
        "bigram_logprob": _bigram_logprob_oracle(),
        "bigram_logprob_lang": _bigram_logprob_lang_oracle(),
        "bm25_batch": _bm25_batch_oracle(),
        "chunk_sequences": _chunk_sequences_oracle(),
        "bpe_train": _bpe_train_oracle(),
        "warc_roundtrip": f"""
            SELECT doc_id, md5(text) AS payload_md5,
                   CAST(strlen(text) AS BIGINT) AS payload_len,
                   CAST(200 AS BIGINT) AS http_status
            FROM documents
            WHERE doc_id < {_WARC_DOC_CAP} AND doc_id % 3 = 0
        """,
        "ivf_routed": _ivf_routed_oracle(),
        "semantic_dedup_routed": _semantic_dedup_routed_oracle(),
        "bm25_stream_index": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            p AS (
              SELECT doc_id,
                     CAST(coalesce(len(toks), 0) AS BIGINT) AS dl,
                     unnest(toks) AS term
              FROM t)
            SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf, dl
            FROM p GROUP BY term, doc_id, dl
        """,
    }


def _trigram_logprob_oracle(
    lam3_ppm: int = 600000, lam2_ppm: int = 300000
) -> str:
    """ngram_logprob_scores(docs, 3) replicated: per-doc trigram partials,
    the trigram/bigram/unigram count tables with both context rollups,
    the order-3 Jelinek-Mercer interpolated backoff with the SAME
    left-associative double arithmetic as the Spark expression, and
    the 1e6 rounding. Self-scoring: every context count >= 1, so none
    of the scorer's zero-context guards fire and plain JOINs match."""
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tri AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
            FROM t WHERE len(toks) >= 3)
    ),
    per_doc AS (
      SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS tf3
      FROM tri GROUP BY 1, 2, 3, 4
    ),
    ct AS (
      SELECT w1, w2, w3, CAST(sum(tf3) AS BIGINT) AS ct
      FROM per_doc GROUP BY 1, 2, 3
    ),
    c2 AS (
      SELECT w1, w2, CAST(sum(ct) AS BIGINT) AS c2 FROM ct GROUP BY 1, 2
    ),
    big AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
            FROM t WHERE len(toks) >= 2)
    ),
    cb AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
      FROM big GROUP BY 1, 2
    ),
    c1 AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1 FROM cb GROUP BY 1),
    vocab AS (
      SELECT term, CAST(count(*) AS BIGINT) AS ctf
      FROM (SELECT unnest(toks) AS term FROM t) GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS total FROM vocab),
    scored AS (
      SELECT p.doc_id,
             CAST(sum(p.tf3) AS BIGINT) AS n_trigrams,
             CAST(round(sum(p.tf3 * -ln(
                 ({lam3_ppm} / 1000000.0) * ct.ct / c2.c2
                 + ({lam2_ppm} / 1000000.0) * cb.cb / c1.c1
                 + (1 - {lam3_ppm} / 1000000.0 - {lam2_ppm} / 1000000.0)
                   * v.ctf / CAST(tot.total AS DOUBLE)
             )) / sum(p.tf3) * 1000000) AS BIGINT) AS mean_nll_e6
      FROM per_doc p
      JOIN ct USING (w1, w2, w3)
      JOIN c2 USING (w1, w2)
      JOIN cb ON cb.w1 = p.w2 AND cb.w2 = p.w3
      JOIN c1 ON c1.w1 = p.w2
      JOIN vocab v ON v.term = p.w3
      CROSS JOIN tot
      GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(s.n_trigrams, 0) AS n_trigrams,
           COALESCE(s.mean_nll_e6, 0) AS mean_nll_e6
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """


def _ngram_logprob_oracle(n: int = 5) -> str:
    """q_ngram_logprob replicated at any order — the trigram oracle's
    mechanical extension (VERDICT r8 Next #2): per-doc n-gram partials,
    one (corpus counts, folded context) CTE pair per conditional order
    j=n..2, the unigram vocab + total, and the SAME left-associative
    double arithmetic as the Spark expression (term j = (lam_j_ppm /
    1e6) * c_j / x_j summed highest order first, unigram weight the
    sequential remainder). Self-scoring: every count and context ≥ 1,
    so none of the scorer's zero-context guards fire and plain JOINs
    match."""
    lambdas = tx._NGRAM_DEFAULT_LAMBDAS[n]
    ctes = [f"t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)"]
    # per-doc n-gram partials (the scored frame)
    gram_cols = ", ".join(
        f"toks[i + {j}] AS w{j + 1}" for j in range(n)
    )
    pd_keys = ", ".join(f"w{j}" for j in range(1, n + 1))
    ctes.append(f"""gN AS (
      SELECT doc_id, {gram_cols}
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {n - 2}))
            AS i FROM t WHERE len(toks) >= {n}))""")
    ctes.append(f"""p AS (
      SELECT doc_id, {pd_keys}, CAST(count(*) AS BIGINT) AS tf
      FROM gN GROUP BY ALL)""")
    # corpus counts per conditional order j = n..2 with the context
    # total FOLDED in by a window over the (j-1)-prefix — the Spark
    # side's fold, and one dimension table per order instead of two.
    # (Each order is extracted from the corpus directly: lower-order
    # counts are NOT derivable from higher ones at document tails.)
    for j in range(n, 1, -1):
        jcols = ", ".join(f"toks[i + {i}] AS w{i + 1}" for i in range(j))
        jkeys = ", ".join(f"w{i}" for i in range(1, j + 1))
        ckeys = ", ".join(f"w{i}" for i in range(1, j))
        ctes.append(f"""c{j} AS (
      SELECT {jkeys}, c,
             CAST(sum(c) OVER (PARTITION BY {ckeys}) AS BIGINT) AS x
      FROM (
        SELECT {jkeys}, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, {jcols}
              FROM (SELECT doc_id, toks,
                           unnest(range(1, len(toks) - {j - 2})) AS i
                    FROM t WHERE len(toks) >= {j}))
        GROUP BY ALL))""")
    ctes.append(f"""vocab AS (
      SELECT term, CAST(count(*) AS BIGINT) AS ctf
      FROM (SELECT unnest(toks) AS term FROM t) GROUP BY 1)""")
    ctes.append(
        "tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS total FROM vocab)"
    )
    # p(wn | w1..wn-1): conditional terms highest order first, then
    # the sequential-remainder unigram weight — matching the Spark
    # expression's float evaluation order exactly. Dimensions attach
    # via LEFT JOIN deliberately: identical under self-scoring (every
    # n-gram is its own table's member), and DuckDB cannot reorder
    # outer joins into the CROSS_PRODUCT star its optimizer picked for
    # the all-INNER form on this synthetic corpus's 31-token vocab
    # (measured: the inner-join plan never finished at sf0.001; this
    # chain runs in milliseconds).
    terms = []
    joins = []
    for idx, lam_ppm in enumerate(lambdas):
        j = n - idx
        terms.append(f"({lam_ppm} / 1000000.0) * c{j}.c / c{j}.x")
        on_c = " AND ".join(
            f"c{j}.w{i} = p.w{n - j + i}" for i in range(1, j + 1)
        )
        joins.append(f"LEFT JOIN c{j} ON {on_c}")
    uni_w = "(1" + "".join(f" - {l} / 1000000.0" for l in lambdas) + ")"
    terms.append(f"{uni_w} * v.ctf / CAST(tot.total AS DOUBLE)")
    p_expr = "\n                 + ".join(terms)
    joins.append(f"LEFT JOIN vocab v ON v.term = p.w{n}")
    joins.append("CROSS JOIN tot")
    body = f"""scored AS (
      SELECT p.doc_id,
             CAST(sum(p.tf) AS BIGINT) AS n_ngrams,
             CAST(round(sum(p.tf * -ln(
                 {p_expr}
             )) / sum(p.tf) * 1000000) AS BIGINT) AS mean_nll_e6
      FROM p
      {chr(10).join('      ' + jn for jn in joins)}
      GROUP BY 1
    )"""
    ctes.append(body)
    return f"""
    WITH {','.join(ctes)}
    SELECT d.doc_id,
           COALESCE(s.n_ngrams, 0) AS n_ngrams,
           COALESCE(s.mean_nll_e6, 0) AS mean_nll_e6
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """


def _kn_logprob_oracle(n: int = 5, d_ppm: int = 750000) -> str:
    """q_kn_logprob replicated: interpolated Kneser-Ney at order n,
    self-scoring. Top order = raw counts with (context total, distinct
    continuations) window-folded in; middle orders = CONTINUATION
    counts — count(DISTINCT predecessor) over the (j+1)-gram positions
    grouped by the last j words, with (ccdot, ncont) folds; base =
    continuation unigram over distinct bigram types. Discounts CAST to
    DOUBLE so DuckDB never drops into decimal arithmetic, and the
    nested expression mirrors the Spark recursion's float-op order
    exactly ((greatest(c−D,0) + (D·ncont)·p_lower)/total, built
    bottom-up). Self-scoring keeps every join key seen — every window
    is a member of the tables it probes — so plain LEFT JOINs match
    and none of the scorer's unseen-context fallthroughs fire."""
    d = repr(d_ppm / 1000000.0)
    ctes = [f"t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)"]
    gram_cols = ", ".join(
        f"toks[i + {j}] AS w{j + 1}" for j in range(n)
    )
    pd_keys = ", ".join(f"w{j}" for j in range(1, n + 1))
    ctes.append(f"""gN AS (
      SELECT doc_id, {gram_cols}
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {n - 2}))
            AS i FROM t WHERE len(toks) >= {n}))""")
    ctes.append(f"""p AS (
      SELECT doc_id, {pd_keys}, CAST(count(*) AS BIGINT) AS tf
      FROM gN GROUP BY ALL)""")
    # top order: raw counts + (sum, distinct-continuation) folds
    tkeys = ", ".join(f"w{i}" for i in range(1, n + 1))
    tctx = ", ".join(f"w{i}" for i in range(1, n))
    ctes.append(f"""c{n} AS (
      SELECT {tkeys}, c,
             CAST(sum(c) OVER (PARTITION BY {tctx}) AS BIGINT) AS x,
             CAST(count(*) OVER (PARTITION BY {tctx}) AS BIGINT) AS n1p
      FROM (
        SELECT {tkeys}, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT {gram_cols}
              FROM (SELECT toks,
                           unnest(range(1, len(toks) - {n - 2})) AS i
                    FROM t WHERE len(toks) >= {n}))
        GROUP BY ALL))""")
    # middle orders j: continuation counts from (j+1)-gram positions
    for j in range(2, n):
        src_cols = ", ".join(
            ["toks[i] AS w0p"]
            + [f"toks[i + {m}] AS v{m}" for m in range(1, j + 1)]
        )
        vkeys = ", ".join(f"v{m}" for m in range(1, j + 1))
        vctx = ", ".join(f"v{m}" for m in range(1, j))
        ctes.append(f"""cc{j} AS (
      SELECT {vkeys}, cc,
             CAST(sum(cc) OVER (PARTITION BY {vctx}) AS BIGINT)
               AS ccdot,
             CAST(count(*) OVER (PARTITION BY {vctx}) AS BIGINT)
               AS ncont
      FROM (
        SELECT {vkeys}, CAST(count(DISTINCT w0p) AS BIGINT) AS cc
        FROM (SELECT {src_cols}
              FROM (SELECT toks,
                           unnest(range(1, len(toks) - {j - 1})) AS i
                    FROM t WHERE len(toks) >= {j + 1}))
        GROUP BY ALL))""")
    # continuation-unigram base over distinct bigram types
    ctes.append(f"""u AS (
      SELECT w2 AS term, CAST(count(DISTINCT w1) AS BIGINT) AS cc
      FROM (SELECT toks[i] AS w1, toks[i + 1] AS w2
            FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                  FROM t WHERE len(toks) >= 2))
      GROUP BY 1)""")
    ctes.append("""bt AS (
      SELECT CAST(count(*) AS BIGINT) AS total
      FROM (SELECT DISTINCT toks[i] AS w1, toks[i + 1] AS w2
            FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                  FROM t WHERE len(toks) >= 2)))""")
    # the KN recursion, bottom-up (identical float-op order to Spark)
    pe = "u.cc / CAST(bt.total AS DOUBLE)"
    for j in range(2, n):
        pe = (
            f"(greatest(cc{j}.cc - CAST({d} AS DOUBLE), 0.0)\n"
            f"                   + CAST({d} AS DOUBLE) * cc{j}.ncont"
            f" * ({pe})) / cc{j}.ccdot"
        )
    pe = (
        f"(greatest(c{n}.c - CAST({d} AS DOUBLE), 0.0)\n"
        f"                   + CAST({d} AS DOUBLE) * c{n}.n1p"
        f" * ({pe})) / c{n}.x"
    )
    joins = []
    for j in range(2, n):
        on_cc = " AND ".join(
            f"cc{j}.v{m} = p.w{n - j + m}" for m in range(1, j + 1)
        )
        joins.append(f"LEFT JOIN cc{j} ON {on_cc}")
    on_top = " AND ".join(f"c{n}.w{i} = p.w{i}" for i in range(1, n + 1))
    joins.append(f"LEFT JOIN c{n} ON {on_top}")
    joins.append(f"LEFT JOIN u ON u.term = p.w{n}")
    joins.append("CROSS JOIN bt")
    body = f"""scored AS (
      SELECT p.doc_id,
             CAST(sum(p.tf) AS BIGINT) AS n_ngrams,
             CAST(round(sum(p.tf * -ln(
                 {pe}
             )) / sum(p.tf) * 1000000) AS BIGINT) AS mean_nll_e6
      FROM p
      {chr(10).join('      ' + jn for jn in joins)}
      GROUP BY 1
    )"""
    ctes.append(body)
    return f"""
    WITH {','.join(ctes)}
    SELECT d.doc_id,
           COALESCE(s.n_ngrams, 0) AS n_ngrams,
           COALESCE(s.mean_nll_e6, 0) AS mean_nll_e6
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """


def _lm_fixed_ref_oracle() -> str:
    """q_lm_fixed_ref replicated: order-3 count tables built from the
    TRAIN half only (the persisted model's content — the streaming
    prefix fold equals build_lm_prefix over everything committed, and
    prefix_tables' derived counts equal ngram_count_tables',
    equality-pinned in tests/test_lm_model.py, so the SQL extracts
    each order from the train tokens directly), eval half mutated the
    same three ways, then the OOV arithmetic the self-scoring oracles
    never reach: eval windows LEFT JOIN the train tables, unseen
    j-grams COALESCE their conditional term to 0, unseen unigrams take
    the oov_ppm/1e6 floor, and docs with 1-2 tokens contribute ONE
    right-aligned NULL-padded window (the backoff contract — NULL join
    keys never match, so orders above the doc's length score 0)."""
    return f"""
    WITH tr AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id % 2 = 0),
    ev AS (
      SELECT doc_id,
        CASE WHEN doc_id % 11 = 1
               THEN array_to_string(list_slice({_TOKS}, 1, 2), ' ')
             WHEN doc_id % 11 = 3
               THEN text || ' qzoov' || CAST(doc_id AS VARCHAR)
             WHEN doc_id % 11 = 5
               THEN 'qzoov' || CAST(doc_id AS VARCHAR)
             ELSE text END AS text
      FROM documents WHERE doc_id % 2 = 1),
    e AS (SELECT doc_id, {_TOKS} AS toks FROM ev),
    c3 AS (
      SELECT w1, w2, w3, c,
             CAST(sum(c) OVER (PARTITION BY w1, w2) AS BIGINT) AS x
      FROM (
        SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
              FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS i
                    FROM tr WHERE len(toks) >= 3))
        GROUP BY ALL)),
    c2 AS (
      SELECT w1, w2, c,
             CAST(sum(c) OVER (PARTITION BY w1) AS BIGINT) AS x
      FROM (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT toks[i] AS w1, toks[i + 1] AS w2
              FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                    FROM tr WHERE len(toks) >= 2))
        GROUP BY ALL)),
    vocab AS (
      SELECT term, CAST(count(*) AS BIGINT) AS ctf
      FROM (SELECT unnest(toks) AS term FROM tr) GROUP BY 1),
    tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS total FROM vocab),
    p AS (
      SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS tf
      FROM (
        SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
               toks[i + 2] AS w3
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
              FROM e WHERE len(toks) >= 3)
        UNION ALL
        SELECT doc_id,
               CAST(NULL AS VARCHAR) AS w1,
               CASE WHEN len(toks) = 2 THEN toks[1] END AS w2,
               toks[len(toks)] AS w3
        FROM e WHERE len(toks) BETWEEN 1 AND 2
      ) GROUP BY ALL),
    scored AS (
      SELECT p.doc_id,
             CAST(sum(p.tf) AS BIGINT) AS n_ngrams,
             CAST(round(sum(p.tf * -ln(
                 COALESCE((600000 / 1000000.0) * c3.c / c3.x, 0)
               + COALESCE((300000 / 1000000.0) * c2.c / c2.x, 0)
               + CASE WHEN v.ctf IS NOT NULL
                      THEN (1 - 600000 / 1000000.0 - 300000 / 1000000.0)
                           * v.ctf / CAST(tot.total AS DOUBLE)
                      ELSE 1 / 1000000.0 END
             )) / sum(p.tf) * 1000000) AS BIGINT) AS mean_nll_e6
      FROM p
      LEFT JOIN c3 ON c3.w1 = p.w1 AND c3.w2 = p.w2 AND c3.w3 = p.w3
      LEFT JOIN c2 ON c2.w1 = p.w2 AND c2.w2 = p.w3
      LEFT JOIN vocab v ON v.term = p.w3
      CROSS JOIN tot
      GROUP BY 1)
    SELECT ev.doc_id,
           COALESCE(s.n_ngrams, 0) AS n_ngrams,
           COALESCE(s.mean_nll_e6, 0) AS mean_nll_e6
    FROM ev LEFT JOIN scored s USING (doc_id)
    """


def _url_dedup_oracle() -> str:
    """q_url_dedup replicated: the deterministic URL construction from
    document columns, then every canonicalization step (fragment
    strip, scheme/host lowercase, www/default-port strip, trailing
    slash, tracking-param drop + query sort, raw passthrough for
    non-http(s)) and the min-id ownership with NULL-safe keepers."""
    return r"""
    WITH pages AS (
      SELECT doc_id,
        CASE WHEN doc_id % 11 = 0
             THEN 'mailto:u' || CAST(doc_id AS VARCHAR) || '@example.com'
             ELSE 'https://'
                  || (CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END)
                  || source || '.example.com/' || lang || '/'
                  || CAST(doc_id // 5 AS VARCHAR)
                  || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=t&a=1'
                           WHEN doc_id % 3 = 1 THEN '?a=1'
                           ELSE '#frag' END)
        END AS url
      FROM documents),
    s AS (
      SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u
      FROM pages),
    p AS (
      SELECT doc_id,
        lower(regexp_extract(u, '^(https?)://', 1)) AS scheme,
        regexp_replace(
          lower(regexp_extract(u, '^https?://([^/?#]+)', 1)),
          '^www\.', '') AS hostport,
        regexp_replace(
          regexp_extract(u, '^https?://[^/?#]+([^?#]*)', 1),
          '/+$', '') AS path,
        regexp_extract(u, '\?([^#]*)', 1) AS query
      FROM s),
    c AS (
      SELECT doc_id,
        CASE WHEN scheme IS NULL OR scheme = '' THEN url
             ELSE scheme || '://' ||
                  CASE WHEN scheme = 'http'
                       THEN regexp_replace(hostport, ':80$', '')
                       ELSE regexp_replace(hostport, ':443$', '') END ||
                  path ||
                  CASE WHEN qs = '' THEN '' ELSE '?' || qs END
        END AS canonical_url
      FROM (
        SELECT *, COALESCE(array_to_string(list_sort(list_filter(
                 str_split(query, '&'),
                 x -> x <> '' AND NOT regexp_matches(x,
                   '^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref|mc_eid)=')
               )), '&'), '') AS qs
        FROM p
      ) JOIN pages USING (doc_id)),
    o AS (SELECT canonical_url, min(doc_id) AS keeper
          FROM c WHERE canonical_url IS NOT NULL GROUP BY 1)
    SELECT c.doc_id, c.canonical_url,
           COALESCE(o.keeper, c.doc_id) AS keeper,
           (CASE WHEN c.doc_id = COALESCE(o.keeper, c.doc_id)
                 THEN 1 ELSE 0 END)::INTEGER AS is_kept
    FROM c LEFT JOIN o ON c.canonical_url = o.canonical_url
    """


def _lm_stream_counts_oracle() -> str:
    """q_lm_stream_counts replicated: the folded streaming bigram
    state must equal the one-shot corpus bigram counts."""
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    big AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
            FROM t WHERE len(toks) >= 2)
    )
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
    FROM big GROUP BY 1, 2
    """


def _ivf_pq_topk_oracle(
    m: int = PQ_M,
    dsub: int = 8,
    k: int = 5,
    nprobe: int = 2,
    shortlist: int = 8,
) -> str:
    """q_ivf_pq_topk replicated end-to-end: coarse centroids = the PQ
    chain's seeds, round-6-cosine/lowest-cell assignment and probes,
    ADC scoring from the one-update codebooks (the pq_adc_topk LUT/
    norm arithmetic verbatim), shortlist*k ADC shortlist, exact-cosine
    round-6 rescore, final top-k — all derived from the embeddings
    view, no literals."""
    chain = _pq_chain()
    return f"""
    WITH {chain},
    e AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings),
    cent AS (
      SELECT cid AS cell,
             list_transform(embedding, x -> x::DOUBLE) AS cv
      FROM seeds),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cell, row_number() OVER (
          PARTITION BY e.vec_id ORDER BY
            round(list_dot_product(e.v, c.cv) /
                  (sqrt(list_dot_product(e.v, e.v)) *
                   sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
            c.cell) AS rn
        FROM e, cent c) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding
          FROM embeddings WHERE vec_id % 50 = 0),
    qe AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id % 50 = 0),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT qe.query_id, c.cell, row_number() OVER (
          PARTITION BY qe.query_id ORDER BY
            round(list_dot_product(qe.v, c.cv) /
                  (sqrt(list_dot_product(qe.v, qe.v)) *
                   sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
            c.cell) AS rn
        FROM qe, cent c) WHERE rn <= {nprobe}
    ),
    lut AS (
      SELECT q.query_id, c.sub, c.cid,
             sum(q.embedding[c.sub * {dsub} + c.i]::DOUBLE * c.v) AS ip
      FROM q, cb1 c GROUP BY q.query_id, c.sub, c.cid
    ),
    n2 AS (
      SELECT sub, cid, sum(v * v) AS n2 FROM cb1 GROUP BY sub, cid
    ),
    qn AS (
      SELECT query_id, round(sqrt(list_sum(list_transform(
               embedding, x -> x::DOUBLE * x::DOUBLE))), 9) AS qnorm
      FROM q
    ),
    terms AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, t1.sub, t1.cid
      FROM probes p
      JOIN assign a ON a.cell = p.cell
      JOIN a1 t1 ON t1.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id
    ),
    adc_sums AS (
      SELECT t.query_id, t.neighbor_id,
             sum(l.ip) AS ip_sum, sum(n2.n2) AS n2_sum
      FROM terms t
      JOIN lut l ON l.query_id = t.query_id
                AND l.sub = t.sub AND l.cid = t.cid
      JOIN n2 ON n2.sub = t.sub AND n2.cid = t.cid
      GROUP BY t.query_id, t.neighbor_id
    ),
    adc AS (
      SELECT s.query_id, s.neighbor_id,
             round(s.ip_sum / (qn.qnorm * sqrt(s.n2_sum)), 6) AS ascore
      FROM adc_sums s JOIN qn ON qn.query_id = s.query_id
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY ascore DESC, neighbor_id) AS rn
        FROM adc) WHERE rn <= {shortlist * k}
    ),
    rescored AS (
      SELECT s.query_id, s.neighbor_id,
             round(list_dot_product(x.v, y.v) /
                   (sqrt(list_dot_product(x.v, x.v)) *
                    sqrt(list_dot_product(y.v, y.v))), 6) AS score
      FROM short s
      JOIN e x ON x.vec_id = s.query_id
      JOIN e y ON y.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, score, rn AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, neighbor_id) AS rn
      FROM rescored) WHERE rn <= {k}
    """


def _r8_oracles() -> dict[str, str]:
    return {
        "trigram_logprob": _trigram_logprob_oracle(),
        "url_dedup": _url_dedup_oracle(),
        "lm_stream_counts": _lm_stream_counts_oracle(),
        "ivf_pq_topk": _ivf_pq_topk_oracle(),
    }


def _r9_oracles() -> dict[str, str]:
    return {
        # the 5-gram CCNet shape — trigram oracle extended mechanically
        "ngram_logprob": _ngram_logprob_oracle(5),
        # the streamed 3-ordered-batch funnel must fold to the batch
        # ledger, so its oracle IS the batch funnel's, same parameters
        "curate_stream": _curate_funnel_oracle(16, 4, 300000),
    }


def _r10_oracles() -> dict[str, str]:
    return {
        # fixed-reference / OOV scoring under the persisted LM model:
        # train-half tables, eval-half windows, LEFT JOINs with
        # COALESCE-to-0 terms and the COALESCE-to-floor unigram
        "lm_fixed_ref": _lm_fixed_ref_oracle(),
    }


def _r12_oracles() -> dict[str, str]:
    return {
        # interpolated Kneser-Ney at the 5-gram KenLM shape:
        # continuation counts via count(DISTINCT predecessor), the
        # same bottom-up discount recursion in CAST-to-DOUBLE floats
        "kn_logprob": _kn_logprob_oracle(5),
    }


def _oracle_pool() -> dict[str, str]:
    """Every oracle the contract has ever carried, live or retired —
    oracle_sql()/retired_oracle_sql() select from this pool by the
    current rotation state, so rotating a row is ONLY a queries()/
    retired_queries() membership change."""
    pool = dict(_oracle_literals())
    pool.update(_retired_literals())
    pool.update(_r6_oracles())
    pool["leakage_safe_split"] = _leakage_oracle()
    pool.update(_r7_oracles())
    pool.update(_r8_oracles())
    pool.update(_r9_oracles())
    pool.update(_r10_oracles())
    pool.update(_r12_oracles())
    return pool


def oracle_sql() -> dict[str, str]:
    pool = _oracle_pool()
    return {k: pool[k] for k in queries() if k in pool}


def retired_oracle_sql() -> dict[str, str]:
    pool = _oracle_pool()
    return {k: pool[k] for k in retired_queries()}
