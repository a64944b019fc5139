"""Persisted LM models (pipeline/lm_model.py): one prefix-closed
parquet table carries every order's counts; scoring under the persisted
model is bit-identical to scoring under freshly built tables; the
short-doc backoff default and strata round-trip."""

SF = "/root/testdata/sf0.001"


def test_lm_model_roundtrip_tables_equal(spark, tmp_path):
    from mod_reservoir_spark.pipeline.lm_model import (
        build_lm_prefix,
        lm_model_tables,
        write_lm_model,
    )
    from mod_reservoir_spark.pipeline.text import ngram_count_tables

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    for strata in ((), ("lang",)):
        path = str(tmp_path / f"m{len(strata)}")
        prefix = build_lm_prefix(docs, 4, strata=strata)
        write_lm_model(prefix, 4, path, strata=strata)
        got = lm_model_tables(spark, path)
        want = ngram_count_tables(docs, 4, strata=strata)
        assert len(got) == len(want)
        for i, (g, w) in enumerate(zip(got, want)):
            assert sorted(g.columns) == sorted(w.columns), i
            rg = sorted(map(tuple, g.select(*sorted(g.columns)).collect()))
            rw = sorted(map(tuple, w.select(*sorted(w.columns)).collect()))
            assert rg == rw, (strata, i)


def test_score_under_model_equals_fresh_tables(spark, tmp_path):
    """The whole CCNet serving path: persist a reference model from a
    clean corpus, score a crawl under it — bit-identical to scoring
    under freshly built tables, the backoff default covers short docs
    (a 2-token OOV doc gets the worst band instead of a free pass),
    and strata recorded at write time are honored."""
    from mod_reservoir_spark.pipeline.lm_model import (
        build_lm_prefix,
        score_under_model,
        write_lm_model,
    )
    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_logprob_against,
    )

    clean = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    path = str(tmp_path / "ref")
    write_lm_model(build_lm_prefix(clean, 5), 5, path)

    crawl = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "zzq qxx"),       # short + OOV
         (2, "")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in score_under_model(crawl, spark, path).collect()
    }
    want = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in ngram_logprob_against(
            crawl, ngram_count_tables(clean, 5), short_docs="backoff"
        ).collect()
    }
    assert got == want
    assert got[1][0] == 1 and got[1][1] > 13_000_000
    assert got[2] == (0, 0)

    # strata: per-language reference, scored per-language
    clean_l = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    path2 = str(tmp_path / "ref_lang")
    write_lm_model(
        build_lm_prefix(clean_l, 2, strata=("lang",)), 2, path2,
        strata=("lang",),
    )
    crawl_l = clean_l.filter("doc_id < 20")  # not limit(): plan-stable
    got2 = {
        r.doc_id: r.mean_nll_e6
        for r in score_under_model(crawl_l, spark, path2).collect()
    }
    from mod_reservoir_spark.pipeline.text import ngram_count_tables

    want2 = {
        r.doc_id: r.mean_nll_e6
        for r in ngram_logprob_against(
            crawl_l,
            ngram_count_tables(clean_l, 2, strata=("lang",)),
            strata=("lang",),
            short_docs="backoff",
        ).collect()
    }
    assert got2 == want2


def test_lm_model_validates_shape(spark, tmp_path):
    """A desynced (order, strata) vs the prefix frame would silently
    derive wrong tables — both write and derive reject it up front."""
    import pytest

    from mod_reservoir_spark.pipeline.lm_model import (
        build_lm_prefix,
        prefix_tables,
        write_lm_model,
    )

    docs = spark.createDataFrame(
        [(0, "a b c")], "doc_id long, text string"
    )
    prefix = build_lm_prefix(docs, 3)
    with pytest.raises(ValueError):
        prefix_tables(prefix, 4)
    with pytest.raises(ValueError):
        prefix_tables(prefix, 3, strata=("lang",))
    with pytest.raises(ValueError):
        write_lm_model(prefix, 2, str(tmp_path / "x"))
    # the matching shape still round-trips
    assert len(prefix_tables(prefix, 3)) == 3


def test_stream_lm_prefix_fold_equals_batch_and_serves(spark, tmp_path):
    """The streaming-maintained model: 3 micro-batches through
    stream_lm_prefix, the folded state equals build_lm_prefix over
    everything ingested (exact rows), fold_to_model writes the
    serving artifact, and score_under_model on it is bit-identical to
    scoring under tables built fresh from the full corpus — the
    complete stream-to-gate lifecycle. A replayed commit (rewriting
    the last batch's partition) leaves the fold unchanged."""
    import json as _json
    import os

    from mod_reservoir_spark.pipeline.lm_model import (
        build_lm_prefix,
        score_under_model,
    )
    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_logprob_against,
    )
    from mod_reservoir_spark.streaming.lm_stream import (
        fold_to_model,
        read_stream_lm_prefix,
        stream_lm_prefix,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    rows = sorted(
        ((r.doc_id, r.text) for r in docs.collect()), key=lambda t: t[0]
    )
    indir = tmp_path / "in"
    indir.mkdir()
    state = str(tmp_path / "state")
    q = stream_lm_prefix(
        spark, str(indir), str(tmp_path / "ckpt"), state, order=3
    )
    try:
        for b in range(3):
            part = rows[b::3]
            staged = str(tmp_path / f"b{b}.tmp")
            with open(staged, "w") as f:
                for i, t in part:
                    f.write(_json.dumps({"doc_id": i, "text": t}) + "\n")
            os.rename(staged, str(indir / f"b{b}.jsonl"))
            q.processAllAvailable()
    finally:
        q.stop()

    # set-compare: window rows carry NULL padding, unsortable in python
    folded = set(map(tuple, read_stream_lm_prefix(spark, state).collect()))
    want = set(map(tuple, build_lm_prefix(docs, 3).collect()))
    assert folded == want

    # replay: rewrite the LAST batch's partition -> fold unchanged
    from mod_reservoir_spark.pipeline.lm_model import build_lm_prefix as blp
    from mod_reservoir_spark.streaming.windowed import (
        _commit_sketch_partition,
    )

    last = spark.createDataFrame(rows[2::3], "doc_id long, text string")
    _commit_sketch_partition(
        blp(last, 3), os.path.join(state, "prefix"), 2
    )
    refolded = set(
        map(tuple, read_stream_lm_prefix(spark, state).collect())
    )
    assert refolded == want

    model_path = str(tmp_path / "model")
    fold_to_model(spark, state, 3, model_path)
    got = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in score_under_model(docs, spark, model_path).collect()
    }
    fresh = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in ngram_logprob_against(
            docs, ngram_count_tables(docs, 3), short_docs="backoff"
        ).collect()
    }
    assert got == fresh


def test_model_meta_records_n_windows(spark, tmp_path):
    """write_lm_model records the persisted prefix's row count in the
    meta sidecar; score_under_model uses it (never Spark's size
    estimate) to pick the table-join strategy — small model =>
    explicit broadcast, bound forced to 0 => merge-only plan, same
    rows either way."""
    import re

    from mod_reservoir_spark.pipeline import text as tx
    from mod_reservoir_spark.pipeline.lm_model import (
        build_lm_prefix,
        score_under_model,
        write_lm_model,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    path = str(tmp_path / "m")
    write_lm_model(build_lm_prefix(docs, 3), 3, path)
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    assert meta.n_windows == spark.read.parquet(f"{path}/prefix").count()

    def plan_and_rows():
        df = score_under_model(docs, spark, path)
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows = sorted(map(tuple, df.collect()))
        return len(re.findall(r"BroadcastHashJoin \[w", plan)), rows

    n_bhj, rows = plan_and_rows()
    # tiny model -> broadcast chosen from meta: one BroadcastHashJoin
    # per table attach (order 3 = trigram + bigram + unigram = 3; the
    # pre-r13 shape ALSO broadcast a ctx-fold join per conditional
    # order, now a window sum inside the table — see
    # ngram_logprob_against)
    assert n_bhj >= 3
    orig = tx.LM_BROADCAST_MAX_WINDOWS
    try:
        tx.LM_BROADCAST_MAX_WINDOWS = 0
        n_forced, rows_forced = plan_and_rows()
    finally:
        tx.LM_BROADCAST_MAX_WINDOWS = orig
    assert n_forced == 0
    assert rows_forced == rows


def test_score_under_pre_r10_model_without_n_windows(spark, tmp_path):
    """Models persisted before the n_windows sidecar field still
    serve: the reader falls back to a metadata-only parquet count of
    the prefix itself."""
    from mod_reservoir_spark.pipeline.lm_model import (
        build_lm_prefix,
        score_under_model,
        write_lm_model,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    path = str(tmp_path / "m")
    write_lm_model(build_lm_prefix(docs, 3), 3, path)
    # rewrite the meta sidecar in the pre-r10 shape (no n_windows)
    old_meta = spark.createDataFrame(
        [(3, "")], "order int, strata string"
    )
    old_meta.coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    fresh = score_under_model(docs, spark, path)
    assert fresh.count() == docs.count()


def test_read_lm_model_pre_r10_skips_fallback_count(spark, tmp_path):
    """ADVICE r11: read_lm_model / lm_model_tables discard n_windows,
    so reading a pre-r10 model (meta without the field) must not pay
    the fallback prefix.count() job — pinned by comparing the job
    count of a pre-r10 read against a current-shape read (identical
    iff the fallback count never runs)."""
    import time

    from mod_reservoir_spark.pipeline.lm_model import (
        build_lm_prefix,
        read_lm_model,
        write_lm_model,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    path = str(tmp_path / "m")
    write_lm_model(build_lm_prefix(docs, 2), 2, path)
    sc = spark.sparkContext

    def jobs_in(group):
        prev, same = -1, 0
        for _ in range(50):
            n = len(sc.statusTracker().getJobIdsForGroup(group))
            same = same + 1 if n == prev else 0
            if same >= 3:
                return n
            prev = n
            time.sleep(0.05)
        return prev

    sc.setJobGroup("lm_read_current", "read with sidecar n_windows")
    read_lm_model(spark, path)
    current_jobs = jobs_in("lm_read_current")

    spark.createDataFrame([(2, "")], "order int, strata string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/meta")
    sc.setJobGroup("lm_read_prer10", "read without sidecar n_windows")
    prefix, order, strata = read_lm_model(spark, path)
    pre_jobs = jobs_in("lm_read_prer10")
    sc.setJobGroup("lm_read_done", "")

    assert (order, strata) == (2, ())
    assert pre_jobs == current_jobs, (pre_jobs, current_jobs)


def test_model_over_threshold_flips_to_merge_end_to_end(spark, tmp_path):
    """r10 VERDICT Next #6: the broadcast->merge cutover driven from a
    PERSISTED model whose recorded n_windows genuinely exceeds
    LM_BROADCAST_MAX_WINDOWS — not a monkeypatched bound. A synthetic
    wide-vocab bigram prefix (4.1M distinct windows, built by range —
    cheap to write, honest to count) crosses the threshold; the
    serving plan through score_under_model's n_windows read must pin
    zero BroadcastHashJoin on w-key joins (every table join
    sort-merge), and still score correctly end-to-end."""
    import re

    from pyspark.sql import functions as F

    from mod_reservoir_spark.pipeline.lm_model import (
        score_under_model,
        write_lm_model,
    )
    from mod_reservoir_spark.pipeline.text import LM_BROADCAST_MAX_WINDOWS

    n = LM_BROADCAST_MAX_WINDOWS + 100_000
    # 4.1M distinct (w1, w2) windows, each count 1, including the
    # ("tok0", "tok1") window the probe document below actually hits
    prefix = spark.range(n).select(
        F.concat(F.lit("tok"), (F.col("id") % 2050)).alias("w1"),
        F.concat(F.lit("tok"), (F.col("id") / F.lit(2050)).cast("long"))
        .alias("w2"),
        F.lit(1).cast("long").alias("c"),
    )
    path = str(tmp_path / "big")
    write_lm_model(prefix, 2, path)
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    assert meta.n_windows == n > LM_BROADCAST_MAX_WINDOWS

    docs = spark.createDataFrame(
        [(0, "tok0 tok1"), (1, "tok0 zzz-unseen")],
        "doc_id long, text string",
    )
    df = score_under_model(docs, spark, path)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"BroadcastHashJoin \[w", plan) == []
    got = {r.doc_id: (r.n_ngrams, r.mean_nll_e6) for r in df.collect()}
    # both docs scored (one seen bigram, one OOV-floored), no nulls
    assert set(got) == {0, 1}
    assert all(v[0] == 1 and v[1] > 0 for v in got.values())
