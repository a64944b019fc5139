"""streaming_curate: after id-ordered micro-batches, the accumulated
ledger must equal batch curate() over everything ingested — same kept
set, same first-drop attribution, same scrubbed text."""

import json
import pytest
import os

import pyspark.sql.functions as F


def _filler(tag):
    return " ".join(
        f"{tag}w{i} {tag}x{i} {tag}y{i} {tag}z{i}" for i in range(10)
    )


B1 = [
    (0, _filler("a") + " original document body"),
    (1, _filler("a") + " original document body"),    # exact dup of 0
    (2, "tiny"),                                      # quality drop
    (3, _filler("c") + " independent early content here now"),
]
B2 = [
    (4, _filler("a") + " original document bodily"),  # near dup of 0 (cross-batch)
    (5, _filler("a") + " original document body"),    # exact dup of 0 (cross-batch)
    (6, _filler("d") + " the quick brown fox jumps over the lazy dog today"),
    (7, _filler("e") + " reach me at bob@example.com for details thanks"),
]
B3 = [
    (8, _filler("a") + " original document bodilys"),  # near dup of 4 (chain)
    (9, _filler("f") + " and a final unique closing document right here"),
]


def _write(indir, name, rows):
    with open(os.path.join(indir, name), "w") as f:
        for i, t in rows:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")


def test_streaming_curate_equals_batch_curate(spark, tmp_path):
    from mod_reservoir_spark.pipeline.curate import curate
    from mod_reservoir_spark.streaming.curate_stream import (
        read_curate_state,
        streaming_curate,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "state")
    q = streaming_curate(
        spark,
        str(indir),
        str(tmp_path / "ckpt"),
        state,
        benchmark=bench,
        threshold_ppm=500000,
    )
    try:
        for name, rows in (("b1.jsonl", B1), ("b2.jsonl", B2), ("b3.jsonl", B3)):
            _write(str(indir), name, rows)
            q.processAllAvailable()
    finally:
        q.stop()

    ledger, fps, sigs = read_curate_state(spark, state)
    got = {
        r.doc_id: (r.drop_stage, r.text) for r in ledger.collect()
    }
    all_rows = B1 + B2 + B3
    assert set(got) == {i for i, _ in all_rows}

    docs = spark.createDataFrame(all_rows, "doc_id long, text string")
    want = {
        r.doc_id: (r.drop_stage, r.text)
        for r in curate(docs, benchmark=bench).collect()
    }
    assert got == want
    # the scenario exercised every stage
    stages = {s for s, _ in got.values() if s}
    assert stages == {"quality", "exact_dup", "near_dup", "contaminated"}
    # chain check: 8 near-dups 4 which near-dups 0 -> both dropped even
    # though 8 never paired with 0 directly
    assert got[4][0] == "near_dup" and got[8][0] == "near_dup"
    # scrub check
    assert "<EMAIL>" in got[7][1]
    # state invariants: signatures hold exact survivors only, exactly once
    sig_ids = sorted(r.doc_id for r in sigs.collect())
    assert sig_ids == sorted(
        i for i, (s, _) in got.items() if s not in ("quality", "exact_dup")
    )
    fp_ids = sorted(r.doc_id for r in fps.collect())
    assert fp_ids == sig_ids


def test_streaming_curate_replay_identical(spark, tmp_path):
    """Replaying the last batch (crash between state commit and stream
    checkpoint) must converge to the same state: the replayed batch
    reads a corpus EXCLUDING its own partitions."""
    from mod_reservoir_spark.streaming.curate_stream import (
        read_curate_state,
        streaming_curate,
    )

    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "state")

    def run(ckpt):
        q = streaming_curate(
            spark, str(indir), str(tmp_path / ckpt), state
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _write(str(indir), "b1.jsonl", B1)
    run("ckpt1")
    before = {
        r.doc_id: (r.drop_stage, r.text)
        for r in read_curate_state(spark, state)[0].collect()
    }
    # fresh checkpoint -> batch 0 replays over the SAME input with the
    # state dir already committed
    run("ckpt2")
    after = {
        r.doc_id: (r.drop_stage, r.text)
        for r in read_curate_state(spark, state)[0].collect()
    }
    assert before == after


@pytest.mark.exhaustive  # stream==batch already pinned by the kept equals_batch scenario; this re-runs it on a seeded random corpus
def test_streaming_curate_random_corpus_equivalence(spark, tmp_path):
    """Seeded-random corpus with forced collisions (small vocab, doc
    templates reused across batches), split into 3 id-ordered batches:
    streaming must equal batch curate() exactly."""
    import random

    from mod_reservoir_spark.pipeline.curate import curate
    from mod_reservoir_spark.streaming.curate_stream import (
        read_curate_state,
        streaming_curate,
    )

    rng = random.Random(1234)
    vocab = [f"tok{i}" for i in range(60)]
    templates = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(25, 40)))
        for _ in range(12)
    ]
    rows = []
    for i in range(42):
        r = rng.random()
        if r < 0.25:
            rows.append((i, rng.choice(templates)))          # exact dups
        elif r < 0.5:
            base = rng.choice(templates).split()
            j = rng.randrange(len(base))
            base[j] = rng.choice(vocab)                       # near dups
            rows.append((i, " ".join(base)))
        elif r < 0.6:
            rows.append((i, "short"))                         # quality
        else:
            rows.append(
                (i, " ".join(rng.choice(vocab) for _ in range(30)))
            )
    batches = [rows[:14], rows[14:28], rows[28:]]

    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "state")
    q = streaming_curate(spark, str(indir), str(tmp_path / "ckpt"), state)
    try:
        for bi, b in enumerate(batches):
            _write(str(indir), f"r{bi}.jsonl", b)
            q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.doc_id: r.drop_stage
        for r in read_curate_state(spark, state)[0].collect()
    }
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = {r.doc_id: r.drop_stage for r in curate(docs).collect()}
    assert got == want
    # the random draw exercised at least quality + both dedup stages
    assert {"quality", "exact_dup", "near_dup"} <= set(
        v for v in got.values() if v
    )


@pytest.mark.exhaustive  # near_contamination behavior pinned batch-side (test_pipeline) and by the oracle row
def test_streaming_curate_near_benchmark_stage(spark, tmp_path):
    """With benchmark_near_ppm, the streaming ledger still equals
    batch curate() — including the near_contaminated attribution."""
    from mod_reservoir_spark.pipeline.curate import curate
    from mod_reservoir_spark.streaming.curate_stream import (
        read_curate_state,
        streaming_curate,
    )

    s = ["the quick brown fox", "jumps over the lazy", "dog today it did"]
    bench = spark.createDataFrame(
        [(100, " ".join(s))], "doc_id long, text string"
    )
    rows = [
        (0, _filler("a") + " totally unrelated body of text here"),
        (1, " ".join(s[::-1]) + " " + " ".join(s[::-1])),  # paraphrase
        (2, _filler("c") + " " + " ".join(s)),             # verbatim
        (3, _filler("d") + " a clean later arrival document body"),
    ]
    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "state")
    q = streaming_curate(
        spark,
        str(indir),
        str(tmp_path / "ckpt"),
        state,
        benchmark=bench,
        benchmark_near_ppm=250000,
    )
    try:
        for bi, chunk in enumerate((rows[:2], rows[2:])):
            _write(str(indir), f"b{bi}.jsonl", chunk)
            q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.doc_id: r.drop_stage
        for r in read_curate_state(spark, state)[0].collect()
    }
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        r.doc_id: r.drop_stage
        for r in curate(
            docs, benchmark=bench, benchmark_near_ppm=250000
        ).collect()
    }
    assert got == want
    assert got[1] == "near_contaminated" and got[2] == "contaminated"


# the near-dup component of the scenario corpus: 0,1,5 share identical
# text, 4 near-dups 0, 8 near-dups 4 (and all share the "a" filler) —
# one connected component; every other doc is a singleton
COMPONENT = {0, 1, 4, 5, 8}


@pytest.mark.exhaustive  # ownership invariants also pinned by the kept replay scenario and the windowed-streaming dedup tests
def test_streaming_curate_out_of_order_invariants(spark, tmp_path):
    """The ARRIVAL-ORDER CONTRACT (module docstring): with batches
    shuffled so smaller doc_ids arrive later, the keeper identity may
    differ from batch curate(), but the order-independent invariants
    hold — same per-stage counts, same quality/contaminated sets,
    exactly one survivor per duplicate component and it is a member of
    the component."""
    from mod_reservoir_spark.pipeline.curate import curate
    from mod_reservoir_spark.streaming.curate_stream import (
        read_curate_state,
        streaming_curate,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    all_rows = B1 + B2 + B3
    by_id = dict(all_rows)
    shuffled = [
        [(i, by_id[i]) for i in (8, 9, 2, 5)],   # late ids first
        [(i, by_id[i]) for i in (0, 6, 4)],
        [(i, by_id[i]) for i in (1, 3, 7)],
    ]
    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "state")
    q = streaming_curate(
        spark, str(indir), str(tmp_path / "ckpt"), state,
        benchmark=bench, threshold_ppm=500000,
    )
    try:
        for n, rows in enumerate(shuffled):
            _write(str(indir), f"s{n}.jsonl", rows)
            q.processAllAvailable()
    finally:
        q.stop()

    ledger, _, _ = read_curate_state(spark, state)
    got = {r.doc_id: r.drop_stage for r in ledger.collect()}
    assert set(got) == set(by_id)

    docs = spark.createDataFrame(all_rows, "doc_id long, text string")
    want = {
        r.doc_id: r.drop_stage
        for r in curate(docs, benchmark=bench).collect()
    }
    # invariant 1: per-stage counts (funnel histogram) are order-free
    from collections import Counter

    assert Counter(got.values()) == Counter(want.values())
    # invariant 2: per-document stages are order-free OUTSIDE the
    # duplicate component (quality, contamination, kept singletons)
    for d in set(by_id) - COMPONENT:
        assert got[d] == want[d], d
    # invariant 3: exactly one survivor in the component, a member,
    # and the rest drop as duplicates of one kind or the other
    survivors = [d for d in COMPONENT if got[d] is None]
    assert len(survivors) == 1 and survivors[0] in COMPONENT
    assert survivors[0] == 5  # first-seen wins: 5 arrived in batch 0
    for d in COMPONENT - {5}:
        assert got[d] in ("exact_dup", "near_dup"), (d, got[d])


@pytest.mark.exhaustive  # the shared compactor (streaming/state.compact) and the first-seen fold are pinned without a stream in test_stream_state; this re-runs a full stream around a compaction
def test_compact_curate_state_continues_identically(spark, tmp_path):
    """compact_curate_state folds per-batch partitions into batch=-1
    with FIRST-SEEN-WINS, after which continuing the stream yields the
    same accumulated state as a never-compacted run."""
    from mod_reservoir_spark.streaming.curate_stream import (
        compact_curate_state,
        read_curate_state,
        streaming_curate,
    )

    def run_all(tag, compact_after=None):
        indir = tmp_path / f"docs-{tag}"
        indir.mkdir()
        state = str(tmp_path / f"state-{tag}")
        ckpt = str(tmp_path / f"ckpt-{tag}")
        for n, (name, rows) in enumerate(
            (("b1.jsonl", B1), ("b2.jsonl", B2), ("b3.jsonl", B3))
        ):
            q = streaming_curate(spark, str(indir), ckpt, state)
            try:
                _write(str(indir), name, rows)
                q.processAllAvailable()
            finally:
                q.stop()
            if compact_after is not None and n == compact_after:
                stats = compact_curate_state(spark, state)
                assert stats["ledger"] > 0
        return state

    s_plain = run_all("plain")
    s_comp = run_all("comp", compact_after=1)

    def norm(r):
        return tuple(
            tuple(v) if isinstance(v, list) else v for v in r
        )

    for i in (0, 1, 2):
        a = {norm(r) for r in read_curate_state(spark, s_plain)[i].collect()}
        b = {norm(r) for r in read_curate_state(spark, s_comp)[i].collect()}
        assert a == b, i
    # the compacted run really did fold: only batch=-1 plus batches
    # after the compaction point remain
    import os

    parts = sorted(
        os.listdir(os.path.join(s_comp, "ledger"))
    )
    assert "batch=-1" in parts and "batch=0" not in parts


@pytest.mark.exhaustive  # the LM gate arithmetic is pinned batch-side (test_curate perplexity/5gram/trigram gates, oracle rows); this re-runs the stream face per gate variant
def test_streaming_curate_perplexity_gate_equals_batch(spark, tmp_path):
    """With a frozen reference LM, the streamed funnel's perplexity
    stage attributes identically to batch curate(lm_tables=...) over
    everything ingested; missing threshold raises."""
    import pytest

    from mod_reservoir_spark.pipeline.curate import curate
    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_logprob_against,
    )
    from mod_reservoir_spark.streaming.curate_stream import (
        read_curate_state,
        streaming_curate,
    )

    all_rows = B1 + B2 + B3
    docs = spark.createDataFrame(all_rows, "doc_id long, text string")
    # reference LM: the 'a'-family docs, so unrelated docs score high
    reference = docs.filter(F.col("doc_id").isin(0, 1, 4, 5))
    tables = ngram_count_tables(reference, 2)
    scores = {
        r.doc_id: r.mean_nll_e6
        for r in ngram_logprob_against(docs, tables).collect()
    }
    # threshold between the reference-family scores and the rest
    cut = scores[0] + 1

    with pytest.raises(ValueError):
        streaming_curate(
            spark, str(tmp_path / "x"), str(tmp_path / "y"),
            str(tmp_path / "z"), lm_tables=tables,
        )

    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "state")
    q = streaming_curate(
        spark,
        str(indir),
        str(tmp_path / "ckpt"),
        state,
        threshold_ppm=500000,
        lm_tables=tables,
        max_nll_e6=cut,
    )
    try:
        for name, rows in (("b1.jsonl", B1), ("b2.jsonl", B2),
                           ("b3.jsonl", B3)):
            _write(str(indir), name, rows)
            q.processAllAvailable()
    finally:
        q.stop()

    ledger, _, _ = read_curate_state(spark, state)
    got = {r.doc_id: (r.drop_stage, r.text) for r in ledger.collect()}
    want = {
        r.doc_id: (r.drop_stage, r.text)
        for r in curate(
            docs, lm_tables=tables, max_nll_e6=cut
        ).collect()
    }
    assert got == want
    # the gate actually fired: some quality survivor dropped for NLL
    assert "perplexity" in {s for s, _ in got.values() if s}


@pytest.mark.exhaustive  # lm_model_path pinned batch-side (test_curate_lm_model_path_equals_hand_composed)
def test_streaming_curate_lm_model_path_equals_batch(spark, tmp_path):
    """The one-call persisted-model gate (VERDICT r11 Next #3) in the
    STREAMING funnel: lm_model_path supplies tables, strata and the
    join decision from the sidecar, and the streamed ledger equals
    batch curate(lm_model_path=...) over everything ingested; the
    mutual-exclusion guards fire before any stream starts."""
    import pytest

    from mod_reservoir_spark.pipeline.curate import curate
    from mod_reservoir_spark.pipeline.lm_model import (
        build_lm_prefix,
        score_under_model,
        write_lm_model,
    )
    from mod_reservoir_spark.streaming.curate_stream import (
        read_curate_state,
        streaming_curate,
    )

    all_rows = B1 + B2 + B3
    docs = spark.createDataFrame(all_rows, "doc_id long, text string")
    reference = docs.filter(F.col("doc_id").isin(0, 1, 4, 5))
    path = str(tmp_path / "ref_model")
    write_lm_model(build_lm_prefix(reference, 3), 3, path)
    scores = {
        r.doc_id: r.mean_nll_e6
        for r in score_under_model(docs, spark, path).collect()
    }
    cut = scores[0] + 1

    with pytest.raises(ValueError, match="not both"):
        streaming_curate(
            spark, str(tmp_path / "x1"), str(tmp_path / "y1"),
            str(tmp_path / "z1"), lm_tables=(None, None),
            lm_model_path=path, max_nll_e6=cut,
        )
    with pytest.raises(ValueError, match="meta sidecar"):
        streaming_curate(
            spark, str(tmp_path / "x2"), str(tmp_path / "y2"),
            str(tmp_path / "z2"), lm_model_path=path,
            lm_broadcast=True, max_nll_e6=cut,
        )
    # ADVICE r12: kn parameters with NO gate configured were silently
    # ignored in the streaming face too
    with pytest.raises(ValueError, match="no lm_tables or lm_model_path"):
        streaming_curate(
            spark, str(tmp_path / "x3"), str(tmp_path / "y3"),
            str(tmp_path / "z3"), lm_smoothing="kn",
        )

    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "state")
    q = streaming_curate(
        spark,
        str(indir),
        str(tmp_path / "ckpt"),
        state,
        threshold_ppm=500000,
        lm_model_path=path,
        max_nll_e6=cut,
    )
    try:
        for name, rows in (("b1.jsonl", B1), ("b2.jsonl", B2),
                           ("b3.jsonl", B3)):
            _write(str(indir), name, rows)
            q.processAllAvailable()
    finally:
        q.stop()

    ledger, _, _ = read_curate_state(spark, state)
    got = {r.doc_id: (r.drop_stage, r.text) for r in ledger.collect()}
    want = {
        r.doc_id: (r.drop_stage, r.text)
        for r in curate(
            docs, lm_model_path=path, max_nll_e6=cut
        ).collect()
    }
    assert got == want
    assert "perplexity" in {s for s, _ in got.values() if s}


@pytest.mark.exhaustive  # the KN gate is pinned batch-side (test_kn gate tests, kn oracle row)
def test_streaming_curate_kn_gate_equals_batch(spark, tmp_path):
    """lm_smoothing='kn' in the streamed funnel mirrors batch
    curate(lm_smoothing='kn') exactly (fold-equals-batch under the
    Kneser-Ney gate); jm+discounts cross-use is rejected up front."""
    import pytest

    from mod_reservoir_spark.pipeline.curate import curate
    from mod_reservoir_spark.pipeline.lm_model import (
        build_lm_prefix,
        score_under_model,
        write_lm_model,
    )
    from mod_reservoir_spark.streaming.curate_stream import (
        read_curate_state,
        streaming_curate,
    )

    all_rows = B1 + B2 + B3
    docs = spark.createDataFrame(all_rows, "doc_id long, text string")
    reference = docs.filter(F.col("doc_id").isin(0, 1, 4, 5))
    path = str(tmp_path / "ref_model")
    write_lm_model(build_lm_prefix(reference, 3), 3, path)
    scores = {
        r.doc_id: r.mean_nll_e6
        for r in score_under_model(
            docs, spark, path, smoothing="kn"
        ).collect()
    }
    cut = scores[0] + 1

    with pytest.raises(ValueError, match="kn parameter"):
        streaming_curate(
            spark, str(tmp_path / "x"), str(tmp_path / "y"),
            str(tmp_path / "z"), lm_model_path=path, max_nll_e6=cut,
            lm_discounts_ppm=750000,
        )

    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "state")
    q = streaming_curate(
        spark,
        str(indir),
        str(tmp_path / "ckpt"),
        state,
        threshold_ppm=500000,
        lm_model_path=path,
        lm_smoothing="kn",
        max_nll_e6=cut,
    )
    try:
        for name, rows in (("b1.jsonl", B1), ("b2.jsonl", B2),
                           ("b3.jsonl", B3)):
            _write(str(indir), name, rows)
            q.processAllAvailable()
    finally:
        q.stop()

    ledger, _, _ = read_curate_state(spark, state)
    got = {r.doc_id: (r.drop_stage, r.text) for r in ledger.collect()}
    want = {
        r.doc_id: (r.drop_stage, r.text)
        for r in curate(
            docs, lm_model_path=path, lm_smoothing="kn", max_nll_e6=cut
        ).collect()
    }
    assert got == want
    assert "perplexity" in {s for s, _ in got.values() if s}


@pytest.mark.exhaustive  # strata gating pinned batch-side (test_curate strata backoff test, test_pipeline lm_strata equivalences)
def test_streaming_curate_per_language_gate_equals_batch(spark, tmp_path):
    """Per-language gating (lm_strata): the streamed funnel with a
    stratified frozen reference scores each doc under its own
    language's model and stays ledger-identical to batch curate with
    the same tables."""
    import json as _json

    from pyspark.sql import types as T

    from mod_reservoir_spark.pipeline.curate import curate
    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_logprob_against,
    )
    from mod_reservoir_spark.streaming.curate_stream import (
        read_curate_state,
        streaming_curate,
    )

    def long_doc(tag, tail):
        return _filler(tag) + " " + tail

    rows = [
        (0, "en", long_doc("a", "the cat sat on the mat right here")),
        (1, "en", long_doc("b", "mat the on sat cat the here right")),
        (2, "de", long_doc("c", "die katze sass auf der matte genau hier")),
        (3, "de", long_doc("d", "matte der auf sass katze die hier genau")),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    ref = docs.filter(F.col("doc_id").isin(0, 2))
    tables = ngram_count_tables(ref, 2, strata=("lang",))
    # threshold between each language's fluent and permuted scores
    s = {
        r.doc_id: r.mean_nll_e6
        for r in ngram_logprob_against(
            docs, tables, strata=("lang",)
        ).collect()
    }
    cut = max(s[0], s[2]) + 1
    assert min(s[1], s[3]) > cut  # the permuted docs are gateable

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "state")
    q = streaming_curate(
        spark, str(indir), str(tmp_path / "ckpt"), state,
        threshold_ppm=500000,
        lm_tables=tables, max_nll_e6=cut, lm_strata=("lang",),
        schema=schema,
    )
    try:
        for bi, batch in enumerate((rows[:2], rows[2:])):
            with open(indir / f"b{bi}.jsonl", "w") as f:
                for i, lang, t in batch:
                    f.write(
                        _json.dumps({"doc_id": i, "lang": lang, "text": t})
                        + "\n"
                    )
            q.processAllAvailable()
    finally:
        q.stop()

    ledger, _, _ = read_curate_state(spark, state)
    got = {r.doc_id: r.drop_stage for r in ledger.collect()}
    want = {
        r.doc_id: r.drop_stage
        for r in curate(
            docs,
            near_kwargs={"threshold_ppm": 500000},
            lm_tables=tables, max_nll_e6=cut, lm_strata=("lang",),
        ).collect()
    }
    assert got == want
    assert got[1] == "perplexity" and got[3] == "perplexity"
    assert got[0] is None and got[2] is None


@pytest.mark.exhaustive  # url stage pinned batch-side (test_curate_url_stage_attribution, url_dedup oracle row)
def test_streaming_curate_url_stage_equals_batch(spark, tmp_path):
    """url_col= in the STREAMING funnel: cross-batch canonical-URL
    ownership (first-seen wins) — after id-ordered batches the
    accumulated ledger equals batch curate(url_col=...) over
    everything ingested, url_dup attribution included; NULL urls keep
    themselves; a tracking-tagged variant arriving in a LATER batch
    drops against the earlier owner without its text ever reaching
    quality."""
    from mod_reservoir_spark.pipeline.curate import curate
    from mod_reservoir_spark.streaming.curate_stream import (
        read_curate_state,
        streaming_curate,
    )

    ub1 = [
        (0, _filler("a") + " original body", "https://ex.com/a?x=1"),
        (1, _filler("b") + " other page", "https://other.com/p"),
        (2, "tiny", "https://ex.com/tiny"),  # quality, unique URL
        (3, _filler("c") + " null url doc", None),
    ]
    ub2 = [
        # same canonical as 0 via www + tracking param — cross-batch
        (4, _filler("d") + " same page refetched",
         "https://www.ex.com/a?utm_source=t&x=1"),
        (5, _filler("e") + " mailto passthrough", "mailto:a@ex.com"),
    ]
    ub3 = [
        # same canonical as 1, arriving two batches later
        (6, _filler("g") + " third fetch", "https://other.com/p#frag"),
        (7, _filler("h") + " unique closing page", "https://ex.com/z"),
    ]

    def w(indir, name, rows):
        with open(os.path.join(indir, name), "w") as f:
            for i, t, u in rows:
                f.write(
                    json.dumps({"doc_id": i, "text": t, "url": u}) + "\n"
                )

    indir = tmp_path / "docs"
    indir.mkdir()
    state = str(tmp_path / "state")
    q = streaming_curate(
        spark,
        str(indir),
        str(tmp_path / "ckpt"),
        state,
        threshold_ppm=500000,
        schema="doc_id long, text string, url string",
        url_col="url",
    )
    try:
        for name, rows in (
            ("b1.jsonl", ub1), ("b2.jsonl", ub2), ("b3.jsonl", ub3)
        ):
            w(str(indir), name, rows)
            q.processAllAvailable()
    finally:
        q.stop()

    ledger, _fps, _sigs = read_curate_state(spark, state)
    got = {r.doc_id: (r.drop_stage, r.text) for r in ledger.collect()}

    all_rows = ub1 + ub2 + ub3
    docs = spark.createDataFrame(
        all_rows, "doc_id long, text string, url string"
    )
    want = {
        r.doc_id: (r.drop_stage, r.text)
        for r in curate(docs, url_col="url").collect()
    }
    assert got == want
    assert got[4][0] == "url_dup" and got[6][0] == "url_dup"
    assert got[0][0] is None and got[1][0] is None
    assert got[3][0] is None and got[5][0] is None  # NULL + mailto keep
    assert got[2][0] == "quality"
    # url state: one owner row per canonical key, first-seen ids only
    owners = spark.read.parquet(os.path.join(state, "urls"))
    assert sorted(r.doc_id for r in owners.collect()) == [0, 1, 2, 5, 7]
