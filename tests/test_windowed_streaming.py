"""Watermarked streaming rollup + stateful sessionization tests.
Micro-batches are driven one file at a time (maxFilesPerTrigger=1 +
processAllAvailable between writes) so watermark advancement is
deterministic."""

import json

import pytest

from mod_reservoir_spark.streaming.windowed import (
    streaming_hourly_rollup,
    streaming_sessionize,
)


def _write(path, rows):
    with open(path, "w") as f:
        for i, (ts, etype, uid, val) in enumerate(rows):
            f.write(
                json.dumps(
                    {
                        "event_id": i,
                        "ts": ts,
                        "event_type": etype,
                        "user_id": uid,
                        "value": val,
                    }
                )
                + "\n"
            )


def test_streaming_hourly_rollup_watermark_drops_late(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    q = streaming_hourly_rollup(
        spark, str(indir), str(tmp_path / "ckpt"),
        watermark="2 hours", query_name="rollup_t",
    )
    try:
        _write(indir / "b1.jsonl", [
            ("2024-01-01 10:00:00", "A", 1, 1.0),
            ("2024-01-01 10:30:00", "A", 1, 2.0),
            ("2024-01-01 11:10:00", "B", 2, 3.0),
        ])
        q.processAllAvailable()  # watermark → 09:10
        _write(indir / "b2.jsonl", [("2024-01-01 14:00:00", "A", 1, 1.0)])
        q.processAllAvailable()  # watermark → 12:00
        # older than the watermark → dropped, never emitted
        _write(indir / "b3.jsonl", [("2024-01-01 09:30:00", "A", 1, 5.0)])
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM rollup_t").collect()
        hours = {str(r.hour) for r in rows}
        assert "2024-01-01 09:00:00" not in hours
        a10 = [
            r for r in rows
            if str(r.hour) == "2024-01-01 10:00:00" and r.event_type == "A"
        ]
        assert a10 and max(r.n for r in a10) == 2
        assert max(r.value_cents for r in a10) == 300
    finally:
        q.stop()


def test_streaming_dedup_replay_suppressed_state_bounded(spark, tmp_path):
    """Streaming exact-dedup: an at-least-once replay of the same batch
    emits nothing; once the watermark passes a key's eviction time the
    state is dropped, so the key CAN re-emit — the bounded-state
    trade-off dropDuplicatesWithinWatermark makes by design."""
    from mod_reservoir_spark.streaming.windowed import streaming_dedup

    indir = tmp_path / "in"
    indir.mkdir()
    q = streaming_dedup(
        spark, str(indir), str(tmp_path / "ckpt"),
        key_cols=("event_id",), watermark="1 hour", query_name="dedup_t",
    )
    try:
        rows = [
            ("2024-01-01 10:00:00", "A", 1, 1.0),
            ("2024-01-01 10:05:00", "A", 1, 2.0),
            ("2024-01-01 10:10:00", "B", 2, 3.0),
        ]
        _write(indir / "b1.jsonl", rows)
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) c FROM dedup_t").collect()[0].c == 3
        # at-least-once replay: same ids, same times -> fully suppressed
        _write(indir / "b2.jsonl", rows)
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) c FROM dedup_t").collect()[0].c == 3
        # advance the watermark far past 10:00 + 1h (rows dropped as
        # dups of live ids 0/1, but their event times advance the wm)
        _write(indir / "b3.jsonl", [
            ("2024-01-01 13:59:00", "C", 9, 1.0),
            ("2024-01-01 14:00:00", "C", 9, 1.0),
        ])
        q.processAllAvailable()
        # id 0's fingerprint is evicted -> the key re-emits
        _write(indir / "b4.jsonl", [("2024-01-01 13:30:00", "D", 5, 1.0)])
        q.processAllAvailable()
        out = spark.sql("SELECT event_id FROM dedup_t").collect()
        assert len(out) == 4
        assert sorted(r.event_id for r in out).count(0) == 2
    finally:
        q.stop()


def test_streaming_sessionize_gap_and_timeout(spark, tmp_path):
    indir = tmp_path / "in"
    indir.mkdir()
    q = streaming_sessionize(
        spark, str(indir), str(tmp_path / "ckpt"),
        gap_seconds=1800, watermark="10 minutes", query_name="sess_t",
    )
    try:
        _write(indir / "b1.jsonl", [
            ("2024-01-01 10:00:00", "A", 1, 0.0),
            ("2024-01-01 10:10:00", "A", 1, 0.0),
        ])
        q.processAllAvailable()
        # 12:00 is > gap past 10:10 → session 1 closes in-batch;
        # user 2 at 13:00 advances the watermark to 12:50
        _write(indir / "b2.jsonl", [
            ("2024-01-01 12:00:00", "A", 1, 0.0),
            ("2024-01-01 13:00:00", "A", 2, 0.0),
        ])
        q.processAllAvailable()
        # watermark 12:50 > 12:00+gap=12:30 → user 1's second session
        # times out and is emitted
        _write(indir / "b3.jsonl", [("2024-01-01 15:00:00", "A", 2, 0.0)])
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM sess_t").collect()
        u1 = sorted(
            (str(r.session_start), str(r.session_end), r.n_events)
            for r in rows
            if r.user_id == 1
        )
        assert u1 == [
            ("2024-01-01 10:00:00", "2024-01-01 10:10:00", 2),
            ("2024-01-01 12:00:00", "2024-01-01 12:00:00", 1),
        ]
    finally:
        q.stop()


def test_streaming_near_dedup_equals_full_batch(spark, tmp_path):
    """foreachBatch incremental LSH with per-batch partition appends:
    after all batches, the accumulated pairs equal the FULL batch
    minhash_lsh_pairs over everything ingested (every pair touches the
    batch of its later member), the signature state holds every doc
    exactly once, and each batch wrote only ITS OWN partition (no
    state rewrite amplification)."""
    from mod_reservoir_spark.pipeline.dedup import minhash_lsh_pairs
    from mod_reservoir_spark.streaming.windowed import (
        read_near_dedup_state,
        streaming_near_dedup,
    )

    b1 = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over a lazy dog"),
        (2, "spark structured streaming maintains bounded state"),
    ]
    b2 = [
        (3, "the quick brown fox jumps over the lazy dog today"),
        (4, "spark structured streaming maintains bounded state nicely"),
        (5, "completely unrelated text about warehouses"),
    ]
    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "state")
    q = streaming_near_dedup(
        spark,
        str(indir),
        str(tmp_path / "ckpt"),
        state,
        threshold_ppm=300000,
    )
    try:
        with open(indir / "b1.jsonl", "w") as f:
            for i, t in b1:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        q.processAllAvailable()
        with open(indir / "b2.jsonl", "w") as f:
            for i, t in b2:
                f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    sigs, got_pairs = read_near_dedup_state(spark, state)
    assert sorted(r.doc_id for r in sigs.select("doc_id").collect()) == list(
        range(6)
    )
    # append-shaped state: exactly one partition dir per micro-batch
    import os

    sig_parts = sorted(
        e
        for e in os.listdir(os.path.join(state, "signatures"))
        if e.startswith("batch=")
    )
    assert sig_parts == ["batch=0", "batch=1"]
    got = {
        (r.doc_a, r.doc_b): (r.est_ppm, r.jaccard_ppm)
        for r in got_pairs.collect()
    }
    all_docs = spark.createDataFrame(b1 + b2, "doc_id long, text string")
    want = {
        (r.doc_a, r.doc_b): (r.est_ppm, r.jaccard_ppm)
        for r in minhash_lsh_pairs(all_docs, threshold_ppm=300000).collect()
    }
    assert got == want
    assert (0, 1) in got  # a real near-dup was found


def test_streaming_near_dedup_replay_identical(spark, tmp_path):
    """The crash-replay scenario: state for batch N already committed,
    checkpoint not — the replayed computation must produce EXACTLY the
    original partition rows (the anti-join excludes the batch's own
    committed signatures from the corpus side; without it the verify
    joins emit each pair 2-4 times)."""
    from mod_reservoir_spark.pipeline.dedup import (
        incremental_pairs_from_sigs,
        signature_table,
    )

    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "the quick brown fox jumps over a lazy dog"),
        ],
        "doc_id long, text string",
    )
    corpus_docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    new_sigs = signature_table(batch)
    clean = signature_table(corpus_docs)
    # replay corpus: the batch's signatures are already committed
    dirty = clean.unionByName(new_sigs)
    original = incremental_pairs_from_sigs(
        new_sigs, clean, threshold_ppm=300000
    ).collect()
    from pyspark.sql import functions as F

    replay = incremental_pairs_from_sigs(
        new_sigs,
        dirty.join(
            F.broadcast(new_sigs.select("doc_id")), "doc_id", "left_anti"
        ),
        threshold_ppm=300000,
    ).collect()
    assert sorted(map(tuple, replay)) == sorted(map(tuple, original))
    assert len(original) >= 1
    # and WITHOUT the anti-join the replay would inflate rows
    inflated = incremental_pairs_from_sigs(
        new_sigs, dirty, threshold_ppm=300000
    ).collect()
    assert len(inflated) > len(original)


def test_read_near_dedup_state_empty(spark, tmp_path):
    from mod_reservoir_spark.streaming.windowed import read_near_dedup_state

    sigs, pairs = read_near_dedup_state(spark, str(tmp_path / "nothing"))
    assert sigs.count() == 0 and pairs.count() == 0


def test_compact_near_dedup_state(spark, tmp_path):
    """Compaction folds the per-batch partitions into one, preserves
    the state contents exactly, and keeps the latest row for a doc_id
    re-ingested in a later batch."""
    import os

    from mod_reservoir_spark.streaming.windowed import (
        compact_near_dedup_state,
        read_near_dedup_state,
        streaming_near_dedup,
    )

    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "state")
    q = streaming_near_dedup(
        spark, str(indir), str(tmp_path / "ckpt"), state,
        threshold_ppm=300000,
    )
    try:
        batches = [
            [(0, "the quick brown fox jumps over the lazy dog"),
             (1, "the quick brown fox jumps over a lazy dog")],
            [(2, "totally different content here"),
             (0, "doc zero rewritten with new text")],  # re-ingest
        ]
        for b, rows in enumerate(batches):
            with open(indir / f"b{b}.jsonl", "w") as f:
                for i, t in rows:
                    f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
            q.processAllAvailable()
    finally:
        q.stop()

    sigs_before, pairs_before = read_near_dedup_state(spark, state)
    assert {(r.doc_a, r.doc_b) for r in pairs_before.collect()} == {(0, 1)}
    stats = compact_near_dedup_state(spark, state)
    assert stats["batches"] == 2 and stats["signatures"] == 3
    # the (0,1) pair certified doc 0's OLD content; doc 0 was
    # re-ingested in a later batch, so compaction must drop it
    assert stats["pairs"] == 0

    parts = [
        e
        for e in os.listdir(os.path.join(state, "signatures"))
        if e.startswith("batch=")
    ]
    # the consolidated partition uses a batch id no stream replay can
    # ever rewrite (a replayed last-batch commit would rmtree its own
    # batch=N — naming the compacted dir batch=N would destroy history)
    assert parts == ["batch=-1"]
    sigs_after, pairs_after = read_near_dedup_state(spark, state)
    assert pairs_after.count() == 0
    # re-ingested doc 0 kept the batch-1 signature: its hashed shingle
    # set must differ from doc 1's (they were near-dups in batch 0)
    rows = {r.doc_id: r.hsh for r in sigs_after.collect()}
    assert sorted(rows) == [0, 1, 2]
    assert set(rows[0]) != set(rows[1])


def test_compact_near_dedup_state_keeps_valid_pairs(spark, tmp_path):
    """Pairs whose members were NOT re-ingested survive compaction
    unchanged, and a second compaction is a no-op fold of batch=-1."""
    import os

    from mod_reservoir_spark.streaming.windowed import (
        compact_near_dedup_state,
        read_near_dedup_state,
        streaming_near_dedup,
    )

    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "state")
    q = streaming_near_dedup(
        spark, str(indir), str(tmp_path / "ckpt"), state,
        threshold_ppm=300000,
    )
    try:
        batches = [
            [(0, "the quick brown fox jumps over the lazy dog"),
             (1, "the quick brown fox jumps over a lazy dog")],
            [(2, "totally different content here")],
        ]
        for b, rows in enumerate(batches):
            with open(indir / f"b{b}.jsonl", "w") as f:
                for i, t in rows:
                    f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
            q.processAllAvailable()
    finally:
        q.stop()

    _, pairs_before = read_near_dedup_state(spark, state)
    pb = {tuple(r) for r in pairs_before.collect()}
    assert pb
    stats1 = compact_near_dedup_state(spark, state)
    _, pairs_mid = read_near_dedup_state(spark, state)
    assert {tuple(r) for r in pairs_mid.collect()} == pb
    stats2 = compact_near_dedup_state(spark, state)
    assert stats2["signatures"] == stats1["signatures"]
    assert stats2["pairs"] == stats1["pairs"]
    sigs, pairs = read_near_dedup_state(spark, state)
    assert {tuple(r) for r in pairs.collect()} == pb
    assert sigs.count() == 3
    assert sorted(
        e
        for e in os.listdir(os.path.join(state, "pairs"))
        if e.startswith("batch=")
    ) == ["batch=-1"]


def test_streaming_hll_equals_batch_sketch(spark, tmp_path):
    """The accumulated streaming register table must EXACTLY equal the
    batch hll_registers over everything ingested (md5-deterministic
    registers + idempotent max-merge), and survive a replay."""
    from mod_reservoir_spark.pipeline.sketches import (
        hll_estimate,
        hll_registers,
    )
    from mod_reservoir_spark.streaming.windowed import (
        read_hll_state,
        streaming_hll,
    )

    batches = [
        [(i, f"value-{i % 37}") for i in range(0, 40)],
        [(i, f"value-{i % 53}") for i in range(40, 90)],
        [(i, f"value-{i}") for i in range(90, 120)],
    ]
    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "hll")
    q = streaming_hll(
        spark, str(indir), str(tmp_path / "ckpt"), state, m=64
    )
    try:
        for bi, rows in enumerate(batches):
            with open(indir / f"b{bi}.jsonl", "w") as f:
                for i, t in rows:
                    f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
            q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.bucket, r.r) for r in read_hll_state(spark, state).collect()
    }
    all_rows = [r for b in batches for r in b]
    docs = spark.createDataFrame(all_rows, "doc_id long, text string")
    want = {
        (r.bucket, r.r)
        for r in hll_registers(docs, "text", m=64).collect()
    }
    assert got == want
    # estimate sanity: distinct values = 37∪53∪30 exact distinct count
    import math

    exact = len({t for _, t in all_rows})
    est = hll_estimate(sorted(got), m=64)
    assert abs(est - exact) / exact < 0.3

    # replay: rerun the last batch from a fresh checkpoint over the
    # committed state -> identical table
    q2 = streaming_hll(
        spark, str(indir), str(tmp_path / "ckpt2"), state, m=64
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    again = {
        (r.bucket, r.r) for r in read_hll_state(spark, state).collect()
    }
    assert again == want


def test_streaming_cm_equals_batch_sketch(spark, tmp_path):
    """Summed per-batch CM partitions must exactly equal the batch
    sketch over everything ingested, and a replayed batch (rewriting
    its own partition) must not double-count."""
    from mod_reservoir_spark.pipeline.sketches import (
        cm_estimate,
        cm_registers,
    )
    from mod_reservoir_spark.streaming.windowed import (
        read_cm_state,
        streaming_cm,
    )

    batches = [
        [(i, f"w-{i % 7}") for i in range(0, 30)],
        [(i, f"w-{i % 11}") for i in range(30, 80)],
    ]
    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "cm")
    q = streaming_cm(
        spark, str(indir), str(tmp_path / "ckpt"), state, width=64
    )
    try:
        for bi, rows in enumerate(batches):
            with open(indir / f"b{bi}.jsonl", "w") as f:
                for i, t in rows:
                    f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
            q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.d, r.cell): r.c
        for r in read_cm_state(spark, state).collect()
    }
    all_rows = [r for b in batches for r in b]
    docs = spark.createDataFrame(all_rows, "doc_id long, text string")
    want = {
        (r.d, r.cell): r.c
        for r in cm_registers(docs, "text", width=64).collect()
    }
    assert got == want
    # CM point estimate upper-bounds the true count and is exact for
    # the heavy hitter here
    regs = sorted((d, cell, c) for (d, cell), c in got.items())
    true_w0 = sum(1 for _, t in all_rows if t == "w-0")
    est = cm_estimate(regs, "w-0", width=64)
    assert est >= true_w0

    # replay the last batch against the committed state: no double count
    q2 = streaming_cm(
        spark, str(indir), str(tmp_path / "ckpt2"), state, width=64
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    again = {
        (r.d, r.cell): r.c
        for r in read_cm_state(spark, state).collect()
    }
    assert again == want


def test_streaming_hll_grouped(spark, tmp_path):
    """group_cols works when the stream schema carries the group
    column; per-group registers equal the batch sketch."""
    from mod_reservoir_spark.pipeline.sketches import hll_registers
    from mod_reservoir_spark.streaming.windowed import (
        read_hll_state,
        streaming_hll,
    )

    rows = [(i, "en" if i % 3 else "de", f"v{i % 19}") for i in range(60)]
    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "hll")
    q = streaming_hll(
        spark,
        str(indir),
        str(tmp_path / "ckpt"),
        state,
        group_cols=("lang",),
        m=64,
        schema="doc_id long, lang string, text string",
    )
    try:
        with open(indir / "b.jsonl", "w") as f:
            for i, lang, t in rows:
                f.write(
                    json.dumps({"doc_id": i, "lang": lang, "text": t})
                    + "\n"
                )
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.lang, r.bucket, r.r)
        for r in read_hll_state(spark, state, ("lang",)).collect()
    }
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    want = {
        (r.lang, r.bucket, r.r)
        for r in hll_registers(docs, "text", ("lang",), m=64).collect()
    }
    assert got == want
    # pre-commit reader has the group column in its empty frame
    empty = read_hll_state(spark, str(tmp_path / "none"), ("lang",))
    assert empty.columns == ["lang", "bucket", "r"] and empty.count() == 0


def test_ngram_logprob_against_oov_contract(spark):
    """Scoring against a FOREIGN corpus LM (order 2): unseen bigrams
    fall back to unigram mass; unseen unigrams hit the oov floor
    (finite NLL, worst scores); seen text scores the same as under
    self-scoring arithmetic."""
    import math

    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_logprob_against,
    )

    reference = spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "a c")], "doc_id long, text string"
    )
    tables = ngram_count_tables(reference, 2)
    incoming = spark.createDataFrame(
        [
            (10, "a b"),        # fully in-vocabulary
            (11, "b a"),        # unseen bigram, seen unigrams
            (12, "zz qq"),      # nothing seen: pure oov floor
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in ngram_logprob_against(incoming, tables).collect()
    }
    # reference: ctf a=3 b=2 c=1, T=7(ref tokens incl 'solo'? no: 6);
    lam = 0.8
    T = 6.0
    p_ab = lam * 2 / 3 + (1 - lam) * 2 / T
    # 'b a': c1 for w1='b' is absent (no bigram starts with b) ->
    # bigram term 0; unigram term for w2='a'
    p_ba = (1 - lam) * 3 / T
    p_oov = 1 / 1000000.0
    assert got[10] == (1, round(-math.log(p_ab) * 1e6))
    assert got[11] == (1, round(-math.log(p_ba) * 1e6))
    assert got[12] == (1, round(-math.log(p_oov) * 1e6))


def test_streaming_semantic_dedup_equivalence_and_replay(spark, tmp_path):
    """Streaming SemDeDup under FROZEN centroids: the folded per-batch
    pair partitions equal the one-shot within-cell pair set over
    everything ingested; a replayed batch rewrites its own partition
    with identical rows; the read-time CC keeper equals the batch
    keeper over the same pair graph."""
    import os

    from pyspark.sql import functions as F

    from mod_reservoir_spark.pipeline.dedup import near_dedup_keep
    from mod_reservoir_spark.pipeline.similarity import (
        cell_cosine_pairs,
        ivf_assign,
        kmeans_train,
    )
    from mod_reservoir_spark.streaming.semantic_stream import (
        read_semantic_dedup_state,
        streaming_semantic_dedup,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    # planted duplicates: scaled copies of every 4th vector (cosine 1.0)
    planted = emb.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias(
            "embedding"
        ),
    )
    allv = emb.unionByName(planted)
    centroids, _ = kmeans_train(allv, 8, 2)
    threshold = 0.95

    rows = sorted(
        ((r.vec_id, list(r.embedding)) for r in allv.collect()),
        key=lambda t: t[0],
    )
    third = len(rows) // 3
    batches = [rows[:third], rows[third: 2 * third], rows[2 * third:]]

    indir = tmp_path / "vecs"
    indir.mkdir()
    state = str(tmp_path / "sem_state")
    q = streaming_semantic_dedup(
        spark, str(indir), str(tmp_path / "ckpt"), state,
        centroids=centroids, threshold=threshold,
    )
    try:
        for bi, batch in enumerate(batches):
            with open(indir / f"b{bi}.jsonl", "w") as f:
                for i, v in batch:
                    f.write(json.dumps({"vec_id": i, "embedding": v}) + "\n")
            q.processAllAvailable()
    finally:
        q.stop()

    # one-shot reference under the same frozen centroids
    cells = ivf_assign(allv, centroids=centroids)
    ev = allv.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).join(cells, "vec_id")
    want_pairs = {
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b))
        for r in cell_cosine_pairs(ev, ev, threshold).collect()
    }
    assert want_pairs  # the planted copies guarantee a non-empty graph

    def folded_pairs():
        _, pairs = read_semantic_dedup_state(spark, state)
        return {
            (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b))
            for r in pairs.collect()
        }

    assert folded_pairs() == want_pairs

    # REPLAY batch 1: recompute its members/pairs exactly as process()
    # would — corpus = state partitions with batch < 1 (the ADVICE-r7
    # fix: older replays must not see later arrivals), minus the
    # batch's own ids — and rewrite partition 1. The rewritten
    # partition must be ROW-IDENTICAL to the original (not merely
    # set-stable after folding), and the fold unchanged.
    from mod_reservoir_spark.streaming.windowed import (
        _commit_sketch_partition,
    )

    def part1_rows():
        return sorted(
            (r.doc_a, r.doc_b)
            for r in spark.read.parquet(
                os.path.join(state, "pairs", "batch=1")
            ).collect()
        )

    original_part1 = part1_rows()
    b1 = spark.createDataFrame(
        batches[1], "vec_id long, embedding array<double>"
    )
    b1_cells = ivf_assign(b1, centroids=centroids)
    b1_ev = b1.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).join(b1_cells, "vec_id")
    members = (
        spark.read.parquet(os.path.join(state, "members"))
        .filter(F.col("batch") < 1)
        .select("vec_id", "cell", "v")
    )
    corpus_ev = members.join(
        F.broadcast(b1_ev.select("vec_id")), "vec_id", "left_anti"
    )
    replay_pairs = cell_cosine_pairs(b1_ev, b1_ev, threshold).unionByName(
        cell_cosine_pairs(b1_ev, corpus_ev, threshold, self_join=False)
    ).localCheckpoint(eager=True)
    _commit_sketch_partition(
        replay_pairs, os.path.join(state, "pairs"), 1
    )
    _commit_sketch_partition(
        b1_ev.select("vec_id", "cell", "v"),
        os.path.join(state, "members"),
        1,
    )
    assert part1_rows() == original_part1
    assert folded_pairs() == want_pairs

    # read-time keeper == batch keeper over the same graph
    ids = allv.select(F.col("vec_id").alias("doc_id"))
    _, spairs = read_semantic_dedup_state(spark, state)
    got_keep = {
        (r.doc_id, r.keep_id, r.is_kept)
        for r in near_dedup_keep(
            ids, pairs=spairs.select("doc_a", "doc_b")
        ).collect()
    }
    want_keep = {
        (r.doc_id, r.keep_id, r.is_kept)
        for r in near_dedup_keep(
            ids,
            pairs=spark.createDataFrame(
                sorted(want_pairs), "doc_a long, doc_b long"
            ),
        ).collect()
    }
    assert got_keep == want_keep


def test_streaming_simhash_dedup_equals_batch(spark, tmp_path):
    """The folded per-batch simhash pair partitions equal batch
    simhash_near_pairs over everything ingested (same bit-band
    blocking, xor-verified); a replayed batch changes nothing."""
    import os

    from pyspark.sql import functions as F

    from mod_reservoir_spark.pipeline.dedup import (
        incremental_simhash_pairs,
        simhash,
        simhash_near_pairs,
    )
    from mod_reservoir_spark.streaming.windowed import (
        read_simhash_dedup_state,
        streaming_simhash_dedup,
    )

    docs_all = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    rows = sorted(
        ((r.doc_id, r.text) for r in docs_all.collect()), key=lambda t: t[0]
    )
    third = len(rows) // 3
    batches = [rows[:third], rows[third: 2 * third], rows[2 * third:]]

    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "sh_state")
    q = streaming_simhash_dedup(
        spark, str(indir), str(tmp_path / "ckpt"), state,
        bits=24, max_hamming=3,
    )
    try:
        for bi, batch in enumerate(batches):
            with open(indir / f"b{bi}.jsonl", "w") as f:
                for i, t in batch:
                    f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
            q.processAllAvailable()
    finally:
        q.stop()

    want = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_pairs(
            docs_all, bits=24, max_hamming=3
        ).collect()
    }

    def folded():
        _, pairs = read_simhash_dedup_state(spark, state)
        return {(r.doc_a, r.doc_b, r.hamming) for r in pairs.collect()}

    assert folded() == want
    assert want  # real corpus has near-identical docs at hamming<=3

    # REPLAY batch 1 through the same incremental path
    b1 = spark.createDataFrame(batches[1], "doc_id long, text string")
    new_sh = simhash(b1, bits=24)
    hashes, _ = read_simhash_dedup_state(spark, state)
    corpus = hashes.join(
        F.broadcast(new_sh.select("doc_id")), "doc_id", "left_anti"
    )
    replay = incremental_simhash_pairs(
        new_sh, corpus, bits=24, max_hamming=3
    ).localCheckpoint(eager=True)
    from mod_reservoir_spark.streaming.windowed import (
        _commit_sketch_partition,
    )

    _commit_sketch_partition(replay, os.path.join(state, "pairs"), 1)
    assert folded() == want


def test_compact_simhash_and_semantic_states(spark, tmp_path):
    """Both new dedup-state compactors: per-batch partitions fold into
    one batch=-1 partition, a doc re-ingested under the same id keeps
    only its latest row, pairs certifying the OLD content are dropped,
    and a second compaction is a no-op."""
    import os

    from pyspark.sql import functions as F

    from mod_reservoir_spark.streaming.semantic_stream import (
        compact_semantic_dedup_state,
        read_semantic_dedup_state,
    )
    from mod_reservoir_spark.streaming.windowed import (
        _commit_sketch_partition,
        compact_simhash_dedup_state,
        read_simhash_dedup_state,
    )

    # --- simhash state: docs 1,2 in batch 0 with a pair; doc 2
    # re-ingested (new content) in batch 1 -> its hash updates and the
    # old pair must drop; doc 3 joins in batch 1 pairing with 1
    sh_state = str(tmp_path / "sh")
    h0 = spark.createDataFrame(
        [(1, 0b1010), (2, 0b1011)], "doc_id long, simhash long"
    )
    p0 = spark.createDataFrame(
        [(1, 2, 1)], "doc_a long, doc_b long, hamming long"
    )
    h1 = spark.createDataFrame(
        [(2, 0b111100), (3, 0b1010)], "doc_id long, simhash long"
    )
    p1 = spark.createDataFrame(
        [(1, 3, 0)], "doc_a long, doc_b long, hamming long"
    )
    _commit_sketch_partition(h0, os.path.join(sh_state, "hashes"), 0)
    _commit_sketch_partition(p0, os.path.join(sh_state, "pairs"), 0)
    _commit_sketch_partition(h1, os.path.join(sh_state, "hashes"), 1)
    _commit_sketch_partition(p1, os.path.join(sh_state, "pairs"), 1)

    stats = compact_simhash_dedup_state(spark, sh_state)
    assert stats == {"hashes": 3, "pairs": 1, "batches": 2}
    hashes, pairs = read_simhash_dedup_state(spark, sh_state)
    assert {tuple(r) for r in hashes.collect()} == {
        (1, 0b1010), (2, 0b111100), (3, 0b1010)
    }
    # the (1,2) pair certified doc 2's OLD content -> dropped
    assert {tuple(r) for r in pairs.collect()} == {(1, 3, 0)}
    assert os.listdir(os.path.join(sh_state, "hashes")) == ["batch=-1"]
    # idempotent
    assert compact_simhash_dedup_state(spark, sh_state) == {
        "hashes": 3, "pairs": 1, "batches": 1,
    }
    assert {tuple(r) for r in read_simhash_dedup_state(
        spark, sh_state)[1].collect()} == {(1, 3, 0)}

    # --- semantic state: same shape with (cell, v) members and
    # value-less pairs
    sem_state = str(tmp_path / "sem")
    m0 = spark.createDataFrame(
        [(1, 0, [1.0, 0.0]), (2, 0, [1.0, 0.01])],
        "vec_id long, cell int, v array<double>",
    )
    q0 = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    m1 = spark.createDataFrame(
        [(2, 1, [0.0, 1.0])], "vec_id long, cell int, v array<double>"
    )
    q1 = spark.createDataFrame([], "doc_a long, doc_b long")
    _commit_sketch_partition(m0, os.path.join(sem_state, "members"), 0)
    _commit_sketch_partition(q0, os.path.join(sem_state, "pairs"), 0)
    _commit_sketch_partition(m1, os.path.join(sem_state, "members"), 1)
    _commit_sketch_partition(q1, os.path.join(sem_state, "pairs"), 1)

    stats = compact_semantic_dedup_state(spark, sem_state)
    assert stats == {"members": 2, "pairs": 0, "batches": 2}
    members, pairs = read_semantic_dedup_state(spark, sem_state)
    got = {(r.vec_id, r.cell, tuple(r.v)) for r in members.collect()}
    assert got == {(1, 0, (1.0, 0.0)), (2, 1, (0.0, 1.0))}
    assert pairs.count() == 0  # the (1,2) pair certified old content


def test_compact_pairs_only_state(spark, tmp_path):
    """A crash between the FIRST batch's two commits (process() writes
    pairs before the id table) leaves pairs partitions with NO id
    partitions; compaction must fold the pairs instead of raising
    AttributeError on the missing id state (ADVICE r7)."""
    import os

    from mod_reservoir_spark.streaming.windowed import (
        _commit_sketch_partition,
        compact_simhash_dedup_state,
        read_simhash_dedup_state,
    )

    state = str(tmp_path / "crash")
    p0 = spark.createDataFrame(
        [(1, 2, 1)], "doc_a long, doc_b long, hamming long"
    )
    _commit_sketch_partition(p0, os.path.join(state, "pairs"), 0)
    # no hashes table at all
    stats = compact_simhash_dedup_state(spark, state)
    assert stats == {"hashes": 0, "pairs": 1, "batches": 1}
    _, pairs = read_simhash_dedup_state(spark, state)
    assert {tuple(r) for r in pairs.collect()} == {(1, 2, 1)}
    # hashes dir exists but holds zero batch partitions — same path
    state2 = str(tmp_path / "crash2")
    os.makedirs(os.path.join(state2, "hashes"))
    _commit_sketch_partition(p0, os.path.join(state2, "pairs"), 0)
    stats2 = compact_simhash_dedup_state(spark, state2)
    assert stats2["pairs"] == 1


def test_new_state_readers_empty_before_first_commit(spark, tmp_path):
    """Pollers on a starting stream get empty typed frames, not a
    crash (the read_near_dedup_state contract, extended to the simhash
    and semantic readers)."""
    from mod_reservoir_spark.streaming.semantic_stream import (
        read_semantic_dedup_state,
    )
    from mod_reservoir_spark.streaming.windowed import (
        read_simhash_dedup_state,
    )

    h, p = read_simhash_dedup_state(spark, str(tmp_path / "nope"))
    assert h.count() == 0 and p.count() == 0
    assert h.columns == ["doc_id", "simhash"]
    m, q = read_semantic_dedup_state(spark, str(tmp_path / "nope2"))
    assert m.count() == 0 and q.count() == 0
    assert m.columns == ["vec_id", "cell", "v"]


@pytest.mark.parametrize(
    ("order", "strata"),
    [(2, ("lang",)), (3, ("lang",)), (4, ())],
    ids=["2", "3", "4"],
)
def test_stream_ngram_counts_fold_and_serving(spark, tmp_path, order, strata):
    """The streamed order-N count state folded over batches must
    EXACTLY equal ngram_count_tables over everything ingested (at
    orders 2/3 with per-language strata: the fold infers the stratum
    keys from the committed columns); a replayed batch (at-least-once
    delivery) rewrites its own partition and changes nothing; scoring
    the ingested corpus against the folded tables equals self-scoring
    (ngram_logprob_scores); compaction preserves the rows."""
    _check_stream_ngram_counts(spark, tmp_path, order, strata)


def test_stream_lm_counts_equivalence_replay_and_serving(spark, tmp_path):
    """The bigram LM without strata: the same fold / replay / serving /
    compaction contract as the order-parametrized test."""
    _check_stream_ngram_counts(spark, tmp_path, 2, ())


def test_stream_lm_counts_stratified_fold(spark, tmp_path):
    """Stratified bigram state (per-language models): the inferred
    fold keys include the stratum column, and the folded tables equal
    ngram_count_tables(strata=...) over everything ingested."""
    from pyspark.sql import types as T

    from mod_reservoir_spark.pipeline.text import ngram_count_tables
    from mod_reservoir_spark.streaming.lm_stream import (
        read_stream_ngram_counts,
        stream_ngram_counts,
    )

    rows = [
        (0, "en", "the cat sat"),
        (1, "en", "the cat ran"),
        (2, "de", "die katze sass"),
        (3, "de", "die katze lief"),
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "lm_state")
    q = stream_ngram_counts(
        spark, str(indir), str(tmp_path / "ckpt"), state, order=2,
        schema=schema, strata=("lang",),
    )
    try:
        for bi, batch in enumerate((rows[:2], rows[2:])):
            with open(indir / f"b{bi}.jsonl", "w") as f:
                for i, lang, t in batch:
                    f.write(
                        json.dumps({"doc_id": i, "lang": lang, "text": t})
                        + "\n"
                    )
            q.processAllAvailable()
    finally:
        q.stop()

    docs = spark.createDataFrame(rows, schema)
    want = ngram_count_tables(docs, 2, strata=("lang",))
    got = read_stream_ngram_counts(spark, state, 2)
    assert len(got) == len(want) == 2
    for g, w in zip(got, want):
        assert set(g.columns) == set(w.columns)
        assert {tuple(r) for r in g.select(*w.columns).collect()} == {
            tuple(r) for r in w.collect()
        }


def _check_stream_ngram_counts(spark, tmp_path, order, strata):
    import os

    from pyspark.sql import types as T

    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_logprob_against,
        ngram_logprob_scores,
    )
    from mod_reservoir_spark.streaming.lm_stream import (
        _commit_ngram_counts,
        compact_ngram_counts,
        read_stream_ngram_counts,
        stream_ngram_counts,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            *[T.StructField(c, T.StringType()) for c in strata],
            T.StructField("text", T.StringType()),
        ]
    )
    docs_all = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select(*schema.names)
    rows = sorted(
        (tuple(r) for r in docs_all.collect()), key=lambda t: t[0]
    )
    batches = [rows[0:20], rows[20:35], rows[35:]]

    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "ng_state")
    q = stream_ngram_counts(
        spark, str(indir), str(tmp_path / "ckpt"), state, order=order,
        schema=schema, strata=strata,
    )
    try:
        for bi, batch in enumerate(batches):
            with open(indir / f"b{bi}.jsonl", "w") as f:
                for r in batch:
                    f.write(json.dumps(dict(zip(schema.names, r))) + "\n")
            q.processAllAvailable()
    finally:
        q.stop()

    want = ngram_count_tables(docs_all, order, strata=strata)
    want_sets = [
        {tuple(r) for r in t.select(*sorted(t.columns)).collect()}
        for t in want
    ]

    def check(tables):
        assert len(tables) == len(want_sets)
        for g, w in zip(tables, want_sets):
            assert {
                tuple(r) for r in g.select(*sorted(g.columns)).collect()
            } == w

    check(read_stream_ngram_counts(spark, state, order))

    # REPLAY: at-least-once redelivery of batch 1 — identical rows,
    # fold unchanged
    replay_df = spark.createDataFrame(batches[1], schema)
    _commit_ngram_counts(replay_df, state, 1, order, strata=strata)
    got = read_stream_ngram_counts(spark, state, order)
    check(got)

    # SERVING: scoring the ingested corpus against the folded tables
    # IS self-scoring (neither OOV guard fires on the self path)
    against = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in ngram_logprob_against(
            docs_all, got, strata=strata
        ).collect()
    }
    self_scored = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in ngram_logprob_scores(
            docs_all, order, strata=strata
        ).collect()
    }
    assert against == self_scored

    # COMPACTION: one table per order, same rows
    serving = str(tmp_path / "ng_serving")
    compact_ngram_counts(spark, state, order, serving)
    dirs = [f"grams{k}" for k in range(order, 1, -1)] + ["unigrams"]
    check([spark.read.parquet(os.path.join(serving, d)) for d in dirs])
