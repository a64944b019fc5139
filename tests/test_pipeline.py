"""Training-data pipeline operator tests: dedup invariants, similarity
recall, multimodal plumbing. (Exact cross-engine values are pinned by
tools/oracle_check.py; these tests pin semantic invariants.)"""

import pytest
from pyspark.sql import functions as F

from mod_reservoir_spark.pipeline import multimodal as mm
from mod_reservoir_spark.pipeline.dedup import (
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_near_pairs,
)
from mod_reservoir_spark.pipeline.similarity import cosine_topk, lsh_topk

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "the quick brown fox leaps over the lazy dog"),  # near dup
    (3, "completely different text about spark engines"),
    (4, "spark engines process completely different text about"),  # perm of 3
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(docs):
    groups = {
        r.fingerprint: (r.group_size, r.keeper_doc_id)
        for r in exact_duplicates(docs).collect()
    }
    assert (2, 0) in groups.values()  # docs 0,1 collapse, keeper = min id
    assert len(groups) == 4


def test_hashed_shingle_sets_token_filter_equivalent(spark):
    """The r13 cheap drop filter (token count >= shingle_n) must keep
    exactly the rows the old ``size(hsh) > 0`` form kept — including
    empty/whitespace/short-doc edges — while never inlining the md5
    pipeline below the spread exchange."""
    from mod_reservoir_spark.pipeline.dedup import (
        hashed_shingle_sets,
        shingle_array,
        shingle_hash_expr,
    )

    edge = spark.createDataFrame(
        [
            (0, None),
            (1, ""),
            (2, "   "),
            (3, "one"),
            (4, "one two"),
            (5, "one two three"),
            (6, "  padded   tokens  "),
        ],
        "doc_id long, text string",
    )
    for n in (1, 2, 3):
        new = hashed_shingle_sets(edge, "text", shingle_n=n)
        old = (
            edge.select(
                "doc_id",
                F.array_distinct(
                    F.transform(
                        shingle_array("text", n),
                        lambda s: shingle_hash_expr(s, "md5"),
                    )
                ).alias("hsh"),
            ).filter(F.size("hsh") > 0)
        )
        got = {(r.doc_id, tuple(r.hsh)) for r in new.collect()}
        want = {(r.doc_id, tuple(r.hsh)) for r in old.collect()}
        assert got == want, f"shingle_n={n}"


def test_jaccard_pairs_finds_near_dups(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard_ppm
        for r in jaccard_pairs(
            docs, threshold_ppm=500000, max_block_df=5
        ).collect()
    }
    assert pairs[(0, 1)] == 1000000  # identical word sets
    assert pairs[(0, 2)] == 777777  # jumps→leaps: 7 shared of 9 union
    assert pairs[(3, 4)] == 857142  # doc 4 adds one word: 6 of 7
    assert (0, 3) not in pairs


def test_minhash_lsh_verified_jaccard(docs):
    pairs = {
        (r.doc_a, r.doc_b): (r.est_ppm, r.jaccard_ppm)
        for r in minhash_lsh_pairs(
            docs, num_hashes=16, bands=8, shingle_n=2, threshold_ppm=300000
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)][1] == 1000000
    # bigram shingles penalize reordering: 4 shared bigrams of 7 union
    if (3, 4) in pairs:
        assert pairs[(3, 4)][1] == 571428


def test_simhash_near_pairs(docs):
    pairs = {(r.doc_a, r.doc_b) for r in simhash_near_pairs(docs).collect()}
    assert (0, 1) in pairs


def test_simhash_blocking_recall_exact(spark):
    """Pigeonhole guarantee (VERDICT r1 #2): with n_bands = max_hamming+1
    the blocked result equals brute-force all-pairs at hamming ≤
    max_hamming — including pairs at exactly the max distance."""
    from mod_reservoir_spark.pipeline.dedup import simhash

    words = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(60):
        toks = [words[(i * 7 + j * 3) % 30] for j in range(12)] + [f"u{i % 5}"]
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    max_h = 3
    sh = {r.doc_id: r.simhash for r in simhash(docs, bits=24).collect()}
    expect = {
        (a, b)
        for a in sh
        for b in sh
        if a < b and bin(sh[a] ^ sh[b]).count("1") <= max_h
    }
    # the fixture must actually exercise the boundary distance
    assert any(
        bin(sh[a] ^ sh[b]).count("1") == max_h for a, b in expect
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_near_pairs(docs, bits=24, max_hamming=max_h).collect()
    }
    assert got == expect


def test_simhash_insufficient_bands_rejected(docs):
    with pytest.raises(ValueError):
        simhash_near_pairs(docs, max_hamming=6, n_bands=3)


def test_cosine_topk_and_lsh_recall(spark):
    import math

    # 20 deterministic vectors in 8d: two tight groups + noise
    rows = []
    for i in range(20):
        base = [1.0, 0, 0, 0, 0, 0, 0, 0] if i % 2 == 0 else [0, 1.0, 0, 0, 0, 0, 0, 0]
        vec = [
            round(b + 0.01 * math.sin(i * 7 + d), 6) for d, b in enumerate(base)
        ]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 4)
    exact = cosine_topk(emb, queries, k=3)
    got = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    # top neighbors of an even vec are even (same group)
    assert got[(0, 1)] % 2 == 0
    assert got[(1, 1)] % 2 == 1
    ann = lsh_topk(emb, queries, k=3, n_planes=6, n_tables=8, dim=8)
    ann_rows = ann.collect()
    assert ann_rows, "LSH returned no candidates"
    exact_top1 = {r.query_id: r.neighbor_id for r in exact.collect() if r.rank == 1}
    ann_top1 = {r.query_id: r.neighbor_id for r in ann_rows if r.rank == 1}
    hits = sum(
        1 for q, n in ann_top1.items() if exact_top1.get(q) == n
    )
    assert hits >= len(ann_top1) // 2  # recall ≥ 50% with 8 tables


def test_winnow_fingerprints_vs_python_reference(spark):
    """Winnowing (MOSS): Spark plan vs a direct Python implementation,
    including the short-doc (< w windows) and empty-doc edges."""
    import hashlib
    import re

    from mod_reservoir_spark.pipeline.text import winnow_fingerprints

    k, w = 5, 4
    docs_rows = [
        (0, "The quick brown fox jumps over the lazy dog!"),
        (1, "the quick brown fox Jumps over the lazy dog"),  # same norm
        (2, "ab"),        # shorter than k → no grams
        (3, ""),          # empty
        (4, "abcdef"),    # 2 grams < w → one window
        (5, "x" * 60),    # degenerate repeats → 1 distinct fingerprint
    ]

    def py_winnow(text):
        norm = re.sub(r"[^a-z0-9]", "", text.lower())
        grams = [norm[i:i + k] for i in range(max(len(norm) - k + 1, 0))]
        hashes = [
            int(hashlib.md5(g.encode()).hexdigest()[:7], 16) for g in grams
        ]
        if not hashes:
            wins = []
        elif len(hashes) < w:
            wins = [min(hashes)]
        else:
            wins = [min(hashes[i:i + w]) for i in range(len(hashes) - w + 1)]
        fps = sorted(set(wins))
        digest = hashlib.md5(",".join(str(h) for h in fps).encode()).hexdigest()
        return len(grams), len(fps), digest

    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_grams, r.n_fingerprints, r.fp_md5)
        for r in winnow_fingerprints(docs, k=k, w=w).collect()
    }
    for doc_id, text in docs_rows:
        assert got[doc_id] == py_winnow(text), (doc_id, text)
    # identical normalized text → identical fingerprint digests
    assert got[0] == got[1]
    # a match of length >= k+w-1 shares at least one fingerprint: docs
    # 0 and 1 share ALL; degenerate repeat doc has exactly one
    assert got[5][1] == 1


def test_winnow_pairs_containment(spark):
    """A short doc fully contained in a long doc scores ~100%
    containment overlap — the case symmetric Jaccard under-scores."""
    from mod_reservoir_spark.pipeline.text import winnow_pairs

    snippet = "the winnowing algorithm selects minimum hashes per window"
    filler = (
        "completely unrelated filler content about spark engines and "
        "distributed query planning with plenty of extra words to make "
        "the container document much longer than the snippet it embeds"
    )
    docs = spark.createDataFrame(
        [
            (0, snippet),
            (1, filler + " " + snippet + " " + filler),
            (2, "entirely different third document with its own text"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.overlap_ppm
        for r in winnow_pairs(
            docs, k=5, w=4, max_block_df=10, threshold_ppm=400000
        ).collect()
    }
    assert (0, 1) in pairs
    assert pairs[(0, 1)] >= 900000  # snippet ⊂ container
    assert all(2 not in p for p in pairs)


def test_hll_sketch_estimate_and_merge(spark):
    """Deterministic HLL: the estimate lands within the expected error
    band (~1.04/sqrt(m) ≈ 4.6% at m=512), duplicates don't move it
    (insertion idempotence), and merging two half-corpus register
    tables equals sketching the union."""
    from mod_reservoir_spark.pipeline.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    n = 5000
    rows = [(i, f"value-{i}") for i in range(n)]
    # duplicates: every value appears twice
    df = spark.createDataFrame(rows + rows, "i long, v string")
    regs = hll_registers(df, "v", (), m=512)
    est = hll_estimate(
        [(r.bucket, r.r) for r in regs.collect()], m=512
    )
    assert abs(est - n) / n < 0.15

    left = hll_registers(df.filter("i < 2500"), "v", (), m=512)
    right = hll_registers(df.filter("i >= 2000"), "v", (), m=512)  # overlap
    merged = hll_merge(left, right)
    est_merged = hll_estimate(
        [(r.bucket, r.r) for r in merged.collect()], m=512
    )
    assert est_merged == est  # registers merge exactly, overlap-safe


def test_cm_sketch_estimate_and_merge(spark):
    """Count-Min: never under-counts, exact for a heavy hitter in a
    sparse sketch, and disjoint-scan merge equals the full sketch."""
    from mod_reservoir_spark.pipeline.sketches import (
        cm_estimate,
        cm_merge,
        cm_registers,
    )

    rows = [(i, "hot") for i in range(500)] + [
        (500 + i, f"cold-{i}") for i in range(200)
    ]
    df = spark.createDataFrame(rows, "i long, v string")
    regs = [
        (r.d, r.cell, r.c)
        for r in cm_registers(df, "v", (), depth=4, width=256).collect()
    ]
    est_hot = cm_estimate(regs, "hot", depth=4, width=256)
    assert est_hot >= 500
    assert est_hot <= 500 + 200  # one-sided error bounded by input size
    assert cm_estimate(regs, "cold-7", 4, 256) >= 1
    assert cm_estimate(regs, "never-seen", 4, 256) <= 200

    left = cm_registers(df.filter("i < 300"), "v", (), 4, 256)
    right = cm_registers(df.filter("i >= 300"), "v", (), 4, 256)
    merged = sorted(
        (r.d, r.cell, r.c) for r in cm_merge(left, right).collect()
    )
    assert merged == sorted(regs)


def test_asof_join_attribution(spark):
    """Purchases attribute to the latest prior click per user; a
    purchase before any click keeps NULL click columns."""
    from datetime import datetime

    import __spark_entry__ as E
    import tempfile

    rows = [
        (1, datetime(2024, 1, 1, 10, 0), 7, "purchase", 1.0, "{}"),  # pre-click
        (2, datetime(2024, 1, 1, 10, 5), 7, "click", 0.0, "{}"),
        (3, datetime(2024, 1, 1, 10, 9), 7, "view", 0.0, "{}"),
        (4, datetime(2024, 1, 1, 10, 10), 7, "purchase", 2.0, "{}"),
        (5, datetime(2024, 1, 1, 10, 20), 7, "click", 0.0, "{}"),
        (6, datetime(2024, 1, 1, 10, 30), 7, "purchase", 3.0, "{}"),
        (7, datetime(2024, 1, 1, 9, 0), 8, "click", 0.0, "{}"),  # other user
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        r.purchase_id: (r.click_id, r.lag_us)
        for r in E.q_asof_join(spark, d).collect()
    }
    assert got[1] == (None, None)          # no prior click
    assert got[4] == (2, 5 * 60 * 1000000)  # latest prior click, 5 min
    assert got[6] == (5, 10 * 60 * 1000000)
    assert 7 not in got                     # other user's click unused


def test_kmeans_train_refines_ivf_cells(spark):
    """Distributed Lloyd: inertia is non-increasing over iterations,
    and trained centroids separate two well-separated blobs into
    distinct cells even though the smallest-id seed picked both seeds
    from the SAME blob."""
    import numpy as np

    from mod_reservoir_spark.pipeline.similarity import (
        ivf_assign,
        kmeans_train,
    )

    rng = np.random.RandomState(3)
    blob_a = rng.randn(40, 16) * 0.05 + np.eye(16)[0]   # around e0
    blob_b = rng.randn(40, 16) * 0.05 + np.eye(16)[1]   # around e1
    # ids 0..39 = blob A, 40..79 = blob B -> both k=2 seeds are in A
    rows = [(i, v.tolist()) for i, v in enumerate(blob_a)] + [
        (40 + i, v.tolist()) for i, v in enumerate(blob_b)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids, history = kmeans_train(emb, n_centroids=2, iterations=4)
    assert len(history) == 4
    assert all(b <= a + 1e-9 for a, b in zip(history, history[1:]))
    cells = {
        r.vec_id: r.cell
        for r in ivf_assign(emb, 2, centroids=centroids).collect()
    }
    a_cells = {cells[i] for i in range(40)}
    b_cells = {cells[40 + i] for i in range(40)}
    assert len(a_cells) == 1 and len(b_cells) == 1 and a_cells != b_cells
    # untrained smallest-id seed cannot: both seeds sit inside blob A
    seeded = {
        r.vec_id: r.cell for r in ivf_assign(emb, 2).collect()
    }
    assert len({seeded[40 + i] for i in range(40)} | {seeded[i] for i in range(40)}) <= 2


def test_quality_filter_reasons(spark):
    from mod_reservoir_spark.pipeline.text import quality_filter

    long_clean = " ".join(f"word{i} plain" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, long_clean),
            (2, "short doc"),                       # too_short (+low diversity maybe)
            (3, "spam spam " * 40),                 # repeated bigram + low diversity
            (4, ("line\n" * 10) + long_clean),      # duplicate lines
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.keep, r.reject_reasons)
        for r in quality_filter(docs).collect()
    }
    assert got[1] == (1, "")
    assert got[2][0] == 0 and "too_short" in got[2][1]
    assert got[3][0] == 0 and "repeated_bigram" in got[3][1]
    assert got[4][0] == 0 and "dup_lines" in got[4][1]
    # reasons are sorted & comma-joined (engine-stable)
    assert got[3][1] == ",".join(sorted(got[3][1].split(",")))


def test_pack_shards_layout(spark):
    """Greedy sequential packing: shards fill to the budget in the
    deterministic order; offsets are where each doc starts."""
    from mod_reservoir_spark.pipeline.sampling import pack_shards

    rows = [(i, "en", "tok " * 10) for i in range(10)]  # 10 tokens each
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = sorted(
        pack_shards(docs, shard_tokens=25).collect(),
        key=lambda r: (r.shard_id, r.offset_tokens),
    )
    # 100 tokens / 25-token shards -> docs at offsets 0,10,20,30... so
    # shard boundaries fall at before // 25
    assert [r.shard_id for r in got] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]
    assert got[0].offset_tokens == 0 and got[3].offset_tokens == 5
    # deterministic rerun
    again = sorted(
        pack_shards(docs, shard_tokens=25).collect(),
        key=lambda r: (r.shard_id, r.offset_tokens),
    )
    assert [(r.doc_id, r.shard_id) for r in again] == [
        (r.doc_id, r.shard_id) for r in got
    ]


def test_pii_scrub(spark):
    import hashlib

    from mod_reservoir_spark.pipeline.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail bob@example.org or alice@sub.example.co.uk now"),
            (2, "server at 10.0.0.1 and 192.168.1.254 up"),
            (3, "call +1 555-123-4567 or (555) 987-6543 today"),
            (4, "clean text with no personal data at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_emails, r.n_ips, r.n_phones, r.scrubbed_md5)
        for r in pii_scrub(docs).collect()
    }
    assert got[1][:3] == (2, 0, 0)
    assert got[2][:3] == (0, 2, 0)
    assert got[3][:3] == (0, 0, 2)
    assert got[4][:3] == (0, 0, 0)
    expected1 = "mail <EMAIL> or <EMAIL> now"
    assert got[1][3] == hashlib.md5(expected1.encode()).hexdigest()
    expected3 = "call <PHONE> or <PHONE> today"
    assert got[3][3] == hashlib.md5(expected3.encode()).hexdigest()


def test_minhash_incremental_matches_full_restriction(spark):
    """Incremental LSH == full pairs over corpus ∪ new restricted to
    pairs touching a new doc; corpus-vs-corpus pairs never surface."""
    from mod_reservoir_spark.pipeline.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base),                     # corpus
        (2, base + " lambda"),         # corpus near-dup of 0
        (4, "unrelated corpus doc with entirely different words here"),
        (1, base + " mu"),             # new near-dup of 0/2
        (3, base + " mu nu"),          # new near-dup of 1
        (5, "another unrelated new document nothing shared at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new = docs.filter("doc_id % 2 = 1")
    corpus = docs.filter("doc_id % 2 = 0")
    kw = dict(num_hashes=16, bands=4, shingle_n=1, threshold_ppm=400000)
    inc = {
        (r.doc_a, r.doc_b): (r.est_ppm, r.jaccard_ppm)
        for r in minhash_lsh_pairs_incremental(new, corpus, **kw).collect()
    }
    full = {
        (r.doc_a, r.doc_b): (r.est_ppm, r.jaccard_ppm)
        for r in minhash_lsh_pairs(docs, **kw).collect()
        if r.doc_a % 2 == 1 or r.doc_b % 2 == 1
    }
    assert inc == full and inc  # identical, and non-trivial
    assert all(a % 2 == 1 or b % 2 == 1 for a, b in inc)
    # the corpus-internal near-dup pair (0,2) must NOT surface
    assert (0, 2) not in inc


def test_minhash_incremental_accepts_maintained_signatures(
    spark, warehouse
):
    """The production form: a persisted (doc_id, hsh, sig) table passed
    as corpus_sigs= gives identical pairs to the raw-text convenience
    form — the corpus is never re-shingled. Also pins the append
    lifecycle through the Warehouse and the exactly-one-source guard."""
    import pytest

    from mod_reservoir_spark.pipeline.dedup import (
        minhash_lsh_pairs_incremental,
        signature_table,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base),
        (2, base + " lambda"),
        (4, "unrelated corpus doc with entirely different words here"),
        (1, base + " mu"),
        (3, base + " mu nu"),
        (5, "another unrelated new document nothing shared at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new = docs.filter("doc_id % 2 = 1")
    corpus = docs.filter("doc_id % 2 = 0")
    kw = dict(num_hashes=16, bands=4, shingle_n=1, threshold_ppm=400000)

    # maintained-state lifecycle: persist corpus signatures once...
    warehouse.write(
        "dedup_signatures", signature_table(corpus, num_hashes=16, shingle_n=1)
    )
    sigs = warehouse.read("dedup_signatures")
    pre = {
        (r.doc_a, r.doc_b): (r.est_ppm, r.jaccard_ppm)
        for r in minhash_lsh_pairs_incremental(
            new, corpus_sigs=sigs, **kw
        ).collect()
    }
    fresh = {
        (r.doc_a, r.doc_b): (r.est_ppm, r.jaccard_ppm)
        for r in minhash_lsh_pairs_incremental(new, corpus, **kw).collect()
    }
    assert pre == fresh and pre

    # ...then append the batch's signatures for the next increment
    warehouse.write(
        "dedup_signatures",
        sigs.unionByName(signature_table(new, num_hashes=16, shingle_n=1)),
    )
    assert warehouse.read("dedup_signatures").count() == 6

    with pytest.raises(ValueError):
        minhash_lsh_pairs_incremental(new, corpus, corpus_sigs=sigs, **kw)
    with pytest.raises(ValueError):
        minhash_lsh_pairs_incremental(new, **kw)


def test_auto_planes_scaling(spark):
    """Corpus-adaptive LSH granularity: plane count grows with the
    corpus so bucket occupancy — and candidate pairs per row — stays
    constant (fixed planes measured 12.9x time at 10x data)."""
    from mod_reservoir_spark.pipeline.similarity import (
        auto_planes,
        lsh_topk_distributed,
    )

    assert auto_planes(2_000) == 8       # clamped at lo
    assert auto_planes(20_000) == 12     # 20k/8 ≈ 2^11.3
    assert auto_planes(2_000_000) == 18
    assert auto_planes(10**12) == 24     # clamped at hi
    assert auto_planes(20_000) < auto_planes(200_000)

    import numpy as np

    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(64).tolist()) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = lsh_topk_distributed(emb, emb, k=1, n_planes="auto", n_tables=8)
    rows_out = got.collect()
    # self-matches are excluded; every query still finds a neighbor
    # (auto → 8 planes for 300 vectors: buckets stay populated)
    assert len(rows_out) == 300
    assert all(r.query_id != r.neighbor_id for r in rows_out)
    """Gopher-style repetition signals: duplicate tokens/lines and the
    top-bigram share, exact-ppm integers."""
    from mod_reservoir_spark.pipeline.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # one bigram repeated 3x
            (2, "all distinct words here"),
            (3, "line one\nline one\nline two"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (
            r.n_tokens, r.dup_token_ppm, r.dup_line_ppm, r.top_bigram_ppm
        )
        for r in repetition_stats(docs).collect()
    }
    # doc 1: 4 tokens 1 distinct -> dup 750000; bigrams: 3x "spam spam"
    assert got[1] == (4, 750000, 0, 1000000)
    assert got[2] == (4, 0, 0, 333333)
    # doc 3: 3 lines, 2 distinct -> dup_line 333333
    assert got[3][2] == 333333
    # empty doc: all zeros, still present
    assert got[4] == (0, 0, 0, 0)


def test_contamination_overlap(spark):
    """Benchmark n-gram decontamination: a doc embedding a benchmark
    passage scores its shared distinct n-grams; clean docs score 0."""
    from mod_reservoir_spark.pipeline.text import contamination

    bench_text = "the quick brown fox jumps over the lazy sleeping dog"
    docs = spark.createDataFrame(
        [
            (1, "prefix words " + bench_text + " suffix words"),
            (2, "totally unrelated content with enough words to have "
                "eight gram windows in it for the measurement"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    got = {
        r.doc_id: (r.n_ngrams, r.n_hits, r.contamination_ppm)
        for r in contamination(docs, bench, n=8).collect()
    }
    assert got[1][1] == 3  # the 3 8-grams fully inside the passage
    assert got[2] == (got[2][0], 0, 0)
    assert got[3] == (0, 0, 0)  # < 8 tokens -> no n-grams, present


def test_stratified_sample_quota_and_determinism(spark):
    from mod_reservoir_spark.pipeline.sampling import stratified_sample

    rows = [(i, "en" if i % 3 else "fr", f"doc {i}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    s1 = {(r.doc_id, r.sample_rank) for r in
          stratified_sample(docs, ("lang",), 10).collect()}
    s2 = {(r.doc_id, r.sample_rank) for r in
          stratified_sample(docs, ("lang",), 10).collect()}
    assert s1 == s2  # deterministic, no RNG state
    by_lang = {}
    for r in stratified_sample(docs, ("lang",), 10).collect():
        by_lang.setdefault(r.lang, []).append(r.sample_rank)
    assert all(sorted(v) == list(range(1, 11)) for v in by_lang.values())


def test_token_budget_sample(spark):
    from mod_reservoir_spark.pipeline.sampling import token_budget_sample

    rows = [(i, "en", "word " * 10) for i in range(10)]  # 10 tokens each
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = token_budget_sample(docs, budget_tokens=35).collect()
    # 10 tokens per doc, budget 35 -> exactly 3 docs kept
    assert len(got) == 3
    assert max(r.cum_tokens for r in got) == 30
    assert all(r.n_tokens == 10 for r in got)


def test_winnow_pairs_counts_common_fingerprints(spark):
    """True containment: a pair whose shared fingerprints are mostly
    CORPUS-COMMON (df > max_block_df, so excluded from blocking) must
    still count them in n_shared — blocking selects candidates, it
    never discounts the score. Doc 0 is fully contained in doc 1:
    their shared text is a boilerplate chunk that appears in many
    other docs (common fps) plus one rare marker (the only blocked
    fp). With blocked-only counting the pair scored a sliver; with
    verified counting it scores full containment."""
    from mod_reservoir_spark.pipeline.text import (
        winnow_fingerprints,
        winnow_pairs,
    )

    boiler = (
        "standard license header granting permission to use copy and "
        "modify this software without restriction subject to notice"
    )
    rare = "uniquemarkerphrase shared by exactly two docs"
    rows = [(0, boiler + " " + rare), (1, boiler + " " + rare + " extra tail")]
    # many unrelated docs carrying the boilerplate push its fps over
    # the df cap
    rows += [(10 + i, boiler + f" unrelated document number {i}") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b): (r.n_shared, r.overlap_ppm)
        for r in winnow_pairs(
            docs, k=5, w=4, max_block_df=4, threshold_ppm=400000
        ).collect()
    }
    assert (0, 1) in pairs
    n_shared, overlap = pairs[(0, 1)]
    n_fp0 = {
        r.doc_id: r.n_fingerprints
        for r in winnow_fingerprints(docs, k=5, w=4).collect()
    }[0]
    # doc 0 ⊂ doc 1: every one of doc 0's fingerprints is shared,
    # including the common boilerplate ones
    assert n_shared == n_fp0
    assert overlap == 1000000


def test_ivf_topk_recall(spark):
    """IVF with cells covering both clusters finds the same top-1 as
    exact brute force for most queries (nprobe=2 of 4 cells)."""
    import math

    from mod_reservoir_spark.pipeline.similarity import ivf_topk

    rows = []
    for i in range(40):
        base = [0.0] * 8
        base[i % 2] = 1.0
        vec = [
            round(b + 0.01 * math.sin(i * 7 + d), 6) for d, b in enumerate(base)
        ]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 4)
    exact = {
        r.query_id: r.neighbor_id
        for r in cosine_topk(emb, queries, k=1).collect()
        if r.rank == 1
    }
    ann = ivf_topk(emb, queries, k=1, n_centroids=4, nprobe=2).collect()
    got = {r.query_id: r.neighbor_id for r in ann if r.rank == 1}
    assert got, "IVF returned no candidates"
    hits = sum(1 for q, n in got.items() if exact.get(q) == n)
    assert hits >= len(got) // 2


def test_lsh_signatures_match_sequential_fold_reference(spark):
    """The vectorized numpy signature pass (r13) must reproduce the
    original expression form BIT-EXACTLY: buckets are sign bits of
    left-to-right folded dot products, so the reference here folds
    dims sequentially in pure Python (matmul's pairwise summation
    would NOT be a valid reference — it can flip a near-zero
    projection's sign). Vectors are scaled to push projections close
    to zero so a summation-order deviation would actually show."""
    import math

    from mod_reservoir_spark.pipeline.similarity import (
        _plane_component,
        lsh_signatures,
    )

    dim, n_planes, n_tables = 16, 8, 3
    rows = []
    for i in range(40):
        vec = [
            round(math.sin(i * 13 + d * 7) * 1e-6, 12) for d in range(dim)
        ]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.vec_id, r.table): r.bucket
        for r in lsh_signatures(
            emb, n_planes, n_tables, dim=dim
        ).collect()
    }
    assert len(got) == 40 * n_tables
    for i, vec in rows:
        for t in range(n_tables):
            bits = []
            for p in range(n_planes):
                acc = 0.0
                for d in range(dim):
                    acc = acc + vec[d] * _plane_component(t, p, d)
                bits.append("1" if acc >= 0 else "0")
            assert got[(i, t)] == "".join(bits), (i, t)


def test_lsh_self_join_distributed_matches_broadcast(spark):
    """VERDICT r1 #6: queries == corpus (self-join ANN, the dedup-by-ANN
    shape) through the distributed path — no driver collect of the
    query set — must produce exactly the broadcast path's rows."""
    import math

    from mod_reservoir_spark.pipeline.similarity import lsh_topk_distributed

    rows = []
    for i in range(30):
        base = [0.0] * 8
        base[i % 3] = 1.0
        vec = [
            round(b + 0.01 * math.sin(i * 7 + d), 6) for d, b in enumerate(base)
        ]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def rowset(df):
        return {
            (r.query_id, r.neighbor_id, r.score, r.rank) for r in df.collect()
        }

    broadcast = rowset(
        lsh_topk(emb, emb, k=3, n_planes=6, n_tables=4, dim=8)
    )
    distributed = rowset(
        lsh_topk_distributed(emb, emb, k=3, n_planes=6, n_tables=4, dim=8)
    )
    assert distributed == broadcast
    assert distributed  # self-join actually produced neighbors
    # the size guard routes oversized query sets to the distributed path
    routed = rowset(
        lsh_topk(
            emb, emb, k=3, n_planes=6, n_tables=4, dim=8,
            max_broadcast_queries=5,
        )
    )
    assert routed == broadcast


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, b"\x89PNG fake bytes"), (2, b"RIFF fake wav"), (3, b"\x89PNG fake bytes")],
        "media_id long, content binary",
    )
    media = mm.to_media_table(docs, "media_id", "content", "image", "image/png")
    row = media.filter("media_id = '1'").collect()[0]
    assert row.n_bytes == 15 and len(row.content_sha256) == 64

    feats = mm.extract_features(media, decoder=mm.fake_decode).collect()
    assert len(feats) == 3
    assert all(f.width > 0 and f.channels == 3 for f in feats)

    # strict decoder raises until a real media lib is wired in
    with pytest.raises(Exception, match="NotImplemented|media decoding"):
        mm.extract_features(media).collect()

    dedup = mm.media_dedup(media).collect()
    assert {(r.copies, r.keeper_media_id) for r in dedup} == {(2, "1"), (1, "2")}


def test_frame_sample_plan(spark):
    feats = spark.createDataFrame(
        [("v1", "video", 320, 240, 3, 72, 3000, "h1")],
        mm.FEATURE_SCHEMA,
    )
    plan = mm.frame_sample_plan(feats, every_ms=1000).collect()
    assert [r.frame_ts_ms for r in plan] == [0, 1000, 2000]


def test_embedding_near_dup_planted_pairs(spark):
    """embedding_near_dup finds planted near-identical pairs (cosine
    ~1), excludes dissimilar ones, emits each unordered pair once, and
    agrees with brute-force cosine on every candidate it verifies."""
    import math

    import numpy as np

    from mod_reservoir_spark.pipeline.similarity import embedding_near_dup

    rows = []
    for i in range(24):
        base = [0.0] * 8
        base[i % 4] = 1.0  # 4 well-separated direction groups
        vec = [
            round(b + 0.005 * math.sin(i * 13 + d), 6)
            for d, b in enumerate(base)
        ]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = embedding_near_dup(
        emb, threshold=0.99, n_planes=6, n_tables=8, dim=8
    ).collect()
    assert got, "no near-dup pairs found"
    pairs = {(r.id_a, r.id_b) for r in got}
    assert all(a < b for a, b in pairs)
    assert len(pairs) == len(got)  # each unordered pair once
    vecs = {i: np.array(v, dtype=np.float64) for i, v in rows}
    for r in got:
        a, b = vecs[r.id_a], vecs[r.id_b]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(round(cos, 6) - r.score) < 1e-9
        assert r.score >= 0.99
        assert r.id_a % 4 == r.id_b % 4  # same planted group
    # with 8 tables, same-group recall should be high: every group pair
    # is a true near-dup at this perturbation size
    expected = {
        (i, j) for i in range(24) for j in range(i + 1, 24) if i % 4 == j % 4
    }
    assert len(pairs) >= len(expected) * 3 // 4


def test_bpe_token_stats_known_strings(spark):
    """GPT-2-pretokenizer piece counts on hand-tokenized strings:
    contractions split, digit runs split from letters, punctuation
    runs group, whitespace runs don't count."""
    from mod_reservoir_spark.pipeline.text import bpe_token_stats

    rows = [
        (1, "Hello world"),        # Hello | " world"
        (2, "don't stop"),         # don | 't | " stop"
        (3, "abc123 x!?"),         # abc | 123 | " x" | !?
        (4, "  spaced  out  "),    # spaced | out
        (5, ""),                   # no pieces
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in bpe_token_stats(docs).collect()}
    assert got[1].n_bpe_tokens == 2
    assert got[2].n_bpe_tokens == 3
    assert got[3].n_bpe_tokens == 4
    assert got[4].n_bpe_tokens == 2
    assert got[5].n_bpe_tokens == 0
    assert got[2].n_ws_tokens == 2
    # "Hello"(5) + " world"(6) = 11 chars over 2 pieces
    assert got[1].avg_piece_len_ppm == 11 * 1_000_000 // 2


def test_resize_images_plumbing(spark):
    """fit_dims integer aspect math + resize mapInPandas plumbing with
    the deterministic fake resampler; strict seam raises."""
    import hashlib

    import pytest as _pytest

    from mod_reservoir_spark.pipeline.multimodal import (
        fake_decode,
        fake_resize,
        fit_dims,
        resize_images,
        strict_resize,
        to_media_table,
    )

    # pure fit math: no upscale, width-bound, height-bound, degenerate
    assert fit_dims(50, 80, 100, 100) == (50, 80)
    assert fit_dims(200, 100, 100, 100) == (100, 50)
    assert fit_dims(100, 200, 100, 100) == (50, 100)
    assert fit_dims(1000, 3, 100, 100) == (100, 1)  # floor clamps to 1
    assert fit_dims(100, 100, 100, 100) == (100, 100)

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id long, text string"
    )
    media = to_media_table(
        docs, "doc_id", F.col("text").cast("binary"), "image", "image/png"
    )
    got = {
        r.media_id: r
        for r in resize_images(
            media, 100, 100, decoder=fake_decode, resizer=fake_resize
        ).collect()
    }
    for doc_id, text in [(1, "alpha beta"), (2, "gamma")]:
        content = text.encode()
        meta = fake_decode(content, "image")
        w, h = meta["width"], meta["height"]
        ow, oh = fit_dims(w, h, 100, 100)
        r = got[str(doc_id)]
        assert (r.src_width, r.src_height) == (w, h)
        assert (r.out_width, r.out_height) == (ow, oh)
        assert r.out_width <= 100 and r.out_height <= 100
        payload = fake_resize(content, w, h, ow, oh)
        assert r.n_bytes_out == len(payload)
        assert r.resized_sha256 == hashlib.sha256(payload).hexdigest()

    with _pytest.raises(Exception):
        resize_images(media, 100, 100, decoder=fake_decode).collect()


def test_near_dedup_keep_collapses_components(spark):
    """Near-dup application: a chain of near-identical docs collapses
    to the min-id keeper via CC (even pairs never directly compared),
    and unrelated docs keep themselves."""
    from mod_reservoir_spark.pipeline.dedup import near_dedup_keep

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (10, base),
        (11, base + " lambda"),       # near-dup of 10
        (12, base + " lambda mu"),    # near-dup of 11 (and likely 10)
        (20, "completely different words one two three four five six"),
        (21, "another unrelated document with its own vocabulary here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.keep_id, r.is_kept)
        for r in near_dedup_keep(
            docs, num_hashes=16, bands=4, shingle_n=1,
            threshold_ppm=500000,
        ).collect()
    }
    assert got[10] == (10, 1)
    assert got[11] == (10, 0)
    assert got[12] == (10, 0)
    assert got[20] == (20, 1)
    assert got[21] == (21, 1)
    # survivors = kept docs only
    assert sorted(d for d, (_, k) in got.items() if k) == [10, 20, 21]

    # pairs-reuse: passing the precomputed pair graph (so a pipeline
    # wanting pairs AND keepers runs the LSH pipeline once) is
    # equivalent to the convenience form
    from mod_reservoir_spark.pipeline.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, shingle_n=1, threshold_ppm=500000
    )
    reused = {
        r.doc_id: (r.keep_id, r.is_kept)
        for r in near_dedup_keep(docs, pairs=pairs).collect()
    }
    assert reused == got

    # and any pair source works — e.g. a hand-made pair graph
    manual = spark.createDataFrame(
        [(20, 21)], "doc_a long, doc_b long"
    )
    manual_got = {
        r.doc_id: r.keep_id
        for r in near_dedup_keep(docs, pairs=manual).collect()
    }
    assert manual_got[21] == 20 and manual_got[10] == 10


def test_kmeans_train_corpus_smaller_than_k(spark):
    """A corpus with fewer rows than the requested centroid count must
    train on what exists, not crash in the driver reduce."""
    import numpy as np

    from mod_reservoir_spark.pipeline.similarity import kmeans_train

    rng = np.random.RandomState(7)
    rows = [(i, (rng.randn(8) + np.eye(8)[i % 2]).tolist()) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids, history = kmeans_train(emb, n_centroids=16, iterations=2)
    assert len(centroids) == 3
    assert len(history) == 2
    assert all(b <= a + 1e-9 for a, b in zip(history, history[1:]))

    import pytest

    with pytest.raises(ValueError):
        kmeans_train(emb.filter("vec_id < 0"), n_centroids=4)


def test_sketches_drop_null_values(spark):
    """NULL values must not emit a (bucket=NULL, r=NULL) register row —
    md5(NULL) is NULL and the estimators index registers by bucket."""
    from mod_reservoir_spark.pipeline.sketches import (
        cm_estimate,
        cm_registers,
        hll_estimate,
        hll_registers,
    )

    rows = [(i, f"v-{i}" if i % 3 else None) for i in range(300)]
    df = spark.createDataFrame(rows, "i long, v string")
    regs = hll_registers(df, "v", (), m=512).collect()
    assert all(r.bucket is not None and r.r is not None for r in regs)
    n_real = sum(1 for _, v in rows if v is not None)
    est = hll_estimate([(r.bucket, r.r) for r in regs], m=512)
    assert abs(est - n_real) / n_real < 0.2

    cregs = cm_registers(df, "v", (), 4, 256).collect()
    assert all(r.cell is not None for r in cregs)
    assert sum(r.c for r in cregs) == 4 * n_real
    est_hot = cm_estimate([(r.d, r.cell, r.c) for r in cregs], "v-4", 4, 256)
    assert est_hot >= 1


def _duck_documents(sf="/root/testdata/sf0.001"):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    return con


def _hash_vs_oracle(sdf, con, sql):
    from tools.oracle_check import arrow_rows, table_hash

    scols, srows, stags = arrow_rows(sdf.toArrow())
    dcols, drows, dtags = arrow_rows(con.execute(sql).arrow())
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert table_hash(srows, scols, stags) == table_hash(drows, dcols, dtags)


def test_line_dedup_oracle(spark):
    """Corpus-wide C4-style line dedup hash-matches a DuckDB oracle on
    the real documents table (tokens as 'lines', sep=' ')."""
    from mod_reservoir_spark.pipeline.dedup import line_dedup

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = line_dedup(docs, line_sep=" ", min_chars=1)
    sql = """
        WITH lines AS (
          SELECT doc_id,
                 unnest(string_split(text, ' ')) AS line,
                 unnest(generate_series(
                   0, len(string_split(text, ' ')) - 1)) AS pos
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
    """
    _hash_vs_oracle(out, _duck_documents(sf), sql)


def test_line_dedup_multiline_semantics(spark):
    """First occurrence (doc order, then position) owns a repeated
    line; short lines are exempt; a fully-deduped doc keeps its row."""
    from mod_reservoir_spark.pipeline.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (10, "alpha beta\ncommon boilerplate line\nunique ten"),
            (11, "common boilerplate line\nunique eleven\n--"),
            (12, "common boilerplate line"),
            (13, ""),
            (14, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.text, r.n_lines, r.n_kept)
        for r in line_dedup(docs, min_chars=3).collect()
    }
    assert out[10] == (
        "alpha beta\ncommon boilerplate line\nunique ten", 3, 3
    )
    # doc 11 loses the repeated line but keeps the short '--' line
    assert out[11] == ("unique eleven\n--", 3, 2)
    assert out[12] == ("", 1, 0)
    # empty text = one empty line, exempt from dedup (len < min_chars)
    assert out[13] == ("", 1, 1)
    # NULL text must not vanish from the output — treated as empty
    assert out[14] == ("", 1, 1)


def test_ngram_counts_oracle(spark):
    """Corpus n-gram top-k hash-matches a DuckDB oracle (occurrence
    counts + doc frequency, deterministic tie-break)."""
    from mod_reservoir_spark.pipeline.text import ngram_counts

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = ngram_counts(docs, n=3, k=50)
    toks = (
        "list_filter(regexp_split_to_array(lower(text), '\\s+'),"
        " x -> x <> '')"
    )
    sql = f"""
        WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
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
    """
    _hash_vs_oracle(out, _duck_documents(sf), sql)


def test_semantic_dedup_matches_numpy_reference(spark):
    """semantic_dedup equals an independent numpy implementation of
    the same pipeline (deterministic Lloyd -> within-cell cosine ->
    union-find keeper) on planted clusters with near-dup members."""
    import numpy as np

    from mod_reservoir_spark.pipeline.similarity import semantic_dedup

    rng = np.random.RandomState(11)
    base = rng.randn(4, 16)
    vecs = []
    for i in range(40):
        b = base[i % 4].copy()
        if i >= 36:  # last four: tiny perturbations of their base
            b = b + rng.randn(16) * 0.01
        else:
            b = b + rng.randn(16) * (0.5 if i % 3 else 0.02)
        vecs.append((i, b.tolist()))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    got = {
        r.vec_id: (r.keep_id, r.is_kept)
        for r in semantic_dedup(
            emb, n_clusters=4, threshold=0.999, iterations=2
        ).collect()
    }

    # --- independent reference ---
    ids = np.array([i for i, _ in vecs])
    vm = np.array([v for _, v in vecs])

    def cos_matrix(a, b):
        an = a / np.sqrt((a * a).sum(axis=1))[:, None]
        bn = b / np.sqrt((b * b).sum(axis=1))[:, None]
        return np.round(an @ bn.T, 6)

    cm = vm[np.argsort(ids)[:4]]
    for _ in range(2):
        cell = cos_matrix(vm, cm).argmax(axis=1)
        for c in range(4):
            if (cell == c).any():
                cm[c] = vm[cell == c].mean(axis=0)
    cell = cos_matrix(vm, cm).argmax(axis=1)
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    s = cos_matrix(vm, vm)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if cell[a] == cell[b] and s[a, b] >= 0.999:
                ra, rb = find(int(ids[a])), find(int(ids[b]))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for i in ids:
        root = find(int(i))
        comp = [j for j in ids if find(int(j)) == root]
        keep = min(comp)
        expected[int(i)] = (keep, 1 if keep == int(i) else 0)

    assert got == expected
    # the planted near-dups actually collapsed something
    assert sum(1 for k, (kid, kept) in got.items() if not kept) >= 1


def test_bloom_filter_membership_and_merge(spark):
    """Bloom registers: no false negatives, bounded false positives,
    OR-merge equals the filter over the union, and the distributed
    prefilter keeps exactly the maybe-members."""
    from mod_reservoir_spark.pipeline.sketches import (
        bloom_cardinality,
        bloom_merge,
        bloom_might_contain,
        bloom_prefilter,
        bloom_registers,
    )

    a = spark.createDataFrame(
        [(f"u-{i}",) for i in range(300)], "v string"
    )
    b = spark.createDataFrame(
        [(f"u-{i}",) for i in range(250, 500)], "v string"
    )
    ra, rb = bloom_registers(a, "v"), bloom_registers(b, "v")
    bits_a = {r.bit for r in ra.collect()}

    # no false negatives
    assert all(bloom_might_contain(bits_a, f"u-{i}") for i in range(300))
    # false-positive rate stays near theory (k=4, m=4096, n=300 -> ~0.5%)
    fp = sum(
        bloom_might_contain(bits_a, f"x-{i}") for i in range(2000)
    )
    assert fp < 60
    # cardinality estimate in range
    est = bloom_cardinality(bits_a)
    assert abs(est - 300) / 300 < 0.1

    merged = {r.bit for r in bloom_merge(ra, rb).collect()}
    union = {
        r.bit
        for r in bloom_registers(a.unionByName(b), "v").collect()
    }
    assert merged == union

    cand = spark.createDataFrame(
        [(f"u-{i}",) for i in range(280, 320)]
        + [(f"y-{i}",) for i in range(40)],
        "v string",
    )
    kept = {r.v for r in bloom_prefilter(cand, "v", ra).collect()}
    assert {f"u-{i}" for i in range(280, 300)} <= kept
    # definite non-members of filter A (u >= 300 unseen, y-*) are
    # dropped except bloom false positives
    extras = kept - {f"u-{i}" for i in range(280, 300)}
    assert len(extras) <= 3


def test_bloom_registers_oracle(spark):
    """The set-bit table is byte-identical to a DuckDB replica of the
    md5 bit derivation (the cross-engine determinism contract)."""
    from mod_reservoir_spark.pipeline.sketches import bloom_registers

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = bloom_registers(docs, "text", n_hashes=4, m_bits=4096)
    sql = """
        SELECT DISTINCT bit FROM (
          SELECT unnest([
            ('0x' || substr(md5(d || ':' || text), 1, 4))::BIGINT % 4096
            FOR d IN range(4)
          ]) AS bit
          FROM documents WHERE text IS NOT NULL
        )
    """
    _hash_vs_oracle(out, _duck_documents(sf), sql)


def test_tfidf_top_terms_oracle(spark):
    """Per-doc TF-IDF top-k hash-matches a DuckDB oracle (smoothed
    sklearn idf, 6-decimal-quantized scores, deterministic ties)."""
    from mod_reservoir_spark.pipeline.text import tfidf_top_terms

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = tfidf_top_terms(docs, k=3)
    toks = (
        "list_filter(regexp_split_to_array(lower(text), '\\s+'),"
        " x -> x <> '')"
    )
    sql = f"""
        WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
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
    """
    _hash_vs_oracle(out, _duck_documents(sf), sql)


def test_url_ops(spark):
    """URL extraction, domain rollup and broadcast blocklist filter."""
    from mod_reservoir_spark.pipeline.text import (
        blocklist_filter,
        domain_counts,
        extract_urls,
    )

    docs = spark.createDataFrame(
        [
            (1, "see https://SPAM.example.com/x and http://ok.org/a?b=1"),
            (2, "plain text, no links"),
            (3, "https://spam.example.com:8080/y https://ok.org/z"),
            (4, "mail me at a@b.c or visit http://other.net/."),
        ],
        "doc_id long, text string",
    )
    urls = {(r.doc_id, r.url, r.host) for r in extract_urls(docs).collect()}
    assert (1, "https://SPAM.example.com/x", "spam.example.com") in urls
    assert (3, "https://spam.example.com:8080/y", "spam.example.com") in urls
    assert all(h != "" for _, _, h in urls)

    dc = {r.host: (r.n_urls, r.n_docs) for r in domain_counts(docs).collect()}
    assert dc["spam.example.com"] == (2, 2)
    assert dc["ok.org"] == (2, 2)

    blocked = spark.createDataFrame([("spam.example.com",)], "host string")
    left = {r.doc_id for r in blocklist_filter(docs, blocked).collect()}
    assert left == {2, 4}


def test_minhash_xxhash64_fast_path_equivalent_detection(docs):
    """The xxhash64 hasher (the measured fast path for clusters where
    oracle-exact md5 isn't required) finds the same verified pairs
    with the same exact Jaccard — only the internal hash space (and
    hence est_ppm) differs."""
    md5_pairs = {
        (r.doc_a, r.doc_b): r.jaccard_ppm
        for r in minhash_lsh_pairs(
            docs, num_hashes=16, bands=8, threshold_ppm=300000
        ).collect()
    }
    xx_pairs = {
        (r.doc_a, r.doc_b): r.jaccard_ppm
        for r in minhash_lsh_pairs(
            docs,
            num_hashes=16,
            bands=8,
            threshold_ppm=300000,
            hasher="xxhash64",
        ).collect()
    }
    assert md5_pairs == xx_pairs and (0, 1) in md5_pairs

    import pytest as _pytest

    with _pytest.raises(ValueError):
        minhash_lsh_pairs(docs, hasher="fnv").collect()


def test_duplicate_span_stats_oracle(spark):
    """Per-doc duplicated k-window fraction hash-matches a DuckDB
    oracle over the real corpus (k=4)."""
    from mod_reservoir_spark.pipeline.dedup import duplicate_span_stats

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = duplicate_span_stats(docs, k=4)
    toks = (
        "list_filter(regexp_split_to_array(lower(text), '\\s+'),"
        " x -> x <> '')"
    )
    sql = f"""
        WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
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
    """
    _hash_vs_oracle(out, _duck_documents(sf), sql)


def test_duplicate_span_stats_semantics(spark):
    """Repeated-position counting: within-doc repeats of a span shared
    with another doc count every position; spans unique to one doc
    (even repeated inside it) do not count as duplicated."""
    from mod_reservoir_spark.pipeline.dedup import duplicate_span_stats

    docs = spark.createDataFrame(
        [
            (0, "a b c d x y z w"),      # shares 'a b c d' with doc 1
            (1, "a b c d a b c d"),      # the shared span twice
            (2, "q q q q q q q q"),      # self-repeated only
            (3, "one two three"),        # < k tokens
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_windows, r.n_dup, r.dup_ppm)
        for r in duplicate_span_stats(docs, k=4).collect()
    }
    assert got[0] == (5, 1, 200000)
    # doc 1 has 5 windows; positions 0 and 4 are 'a b c d' (shared
    # with doc 0) -> both count
    assert got[1] == (5, 2, 400000)
    assert got[2] == (5, 0, 0)
    assert got[3] == (0, 0, 0)


def _ref_remove_duplicate_spans(rows, k):
    """Independent Python reference of the ExactSubstr surgery: first
    occurrence by (doc_id, pos) owns a repeated k-window; tokens under
    any non-owner occurrence are cut."""
    toks = {d: (t or "").lower().split() for d, t in rows}
    occ = {}
    for d in sorted(toks):
        t = toks[d]
        for i in range(max(len(t) - k + 1, 0)):
            occ.setdefault(" ".join(t[i : i + k]), []).append((d, i))
    out = {}
    for d, t in toks.items():
        removed = set()
        for i in range(max(len(t) - k + 1, 0)):
            hits = occ[" ".join(t[i : i + k])]
            if len(hits) >= 2 and min(hits) != (d, i):
                removed.update(range(i, i + k))
        kept = [tok for j, tok in enumerate(t) if j not in removed]
        out[d] = (" ".join(kept), len(t), len(t) - len(kept))
    return out


def test_remove_duplicate_spans_semantics(spark):
    """Owner (corpus-first occurrence) keeps its span; later and
    within-doc repeats are cut; overlapping duplicated windows merge
    into one removed span; short docs pass through untouched."""
    from mod_reservoir_spark.pipeline.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [
            (0, "a b c d x y z w"),       # owns 'a b c d'
            (1, "a b c d a b c d"),       # both occurrences cut -> ''
            (2, "p a b c d e q r"),       # 'a b c d' + chained 'b c d e'?
            (3, "one two three"),         # < k tokens, untouched
            (4, None),                    # NULL text -> ''
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text, r.n_tokens, r.n_removed)
        for r in remove_duplicate_spans(docs, k=4).collect()
    }
    assert got[0] == ("a b c d x y z w", 8, 0)
    assert got[1] == ("", 8, 8)
    # doc 2: only window 'a b c d' (pos 1) duplicates -> cut 4 tokens
    assert got[2] == ("p e q r", 8, 4)
    assert got[3] == ("one two three", 3, 0)
    assert got[4] == ("", 0, 0)


def test_remove_duplicate_spans_vs_reference(spark):
    """Full-corpus equivalence with the independent Python reference at
    sf0.001 (k=4 — the corpus has real repeated spans at that width),
    and consistency with duplicate_span_stats: exactly the documents
    with dup_ppm > 0 lose tokens."""
    from mod_reservoir_spark.pipeline.dedup import (
        duplicate_span_stats,
        remove_duplicate_spans,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    rows = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]
    want = _ref_remove_duplicate_spans(rows, 4)
    got = {
        r.doc_id: (r.text, r.n_tokens, r.n_removed)
        for r in remove_duplicate_spans(docs, k=4).collect()
    }
    assert got == want
    assert any(v[2] > 0 for v in got.values())  # surgery actually ran
    stats = {
        r.doc_id: r.dup_ppm for r in duplicate_span_stats(docs, k=4).collect()
    }
    # stats count non-owner AND owner positions of shared windows, so
    # removal ⊆ flagged; but every doc losing tokens must be flagged
    for d, (_, _, n_removed) in got.items():
        if n_removed:
            assert stats[d] > 0


def test_bloom_prefilter_duplicate_candidates(spark):
    """Duplicate candidate rows must EACH pass — grouping that merges
    duplicates would double the matched-bit count and produce a false
    negative, which the Bloom contract forbids."""
    from mod_reservoir_spark.pipeline.sketches import (
        bloom_prefilter,
        bloom_registers,
    )

    corpus = spark.createDataFrame([("m-1",), ("m-2",)], "v string")
    regs = bloom_registers(corpus, "v")
    cand = spark.createDataFrame(
        [("m-1",), ("m-1",), ("m-2",), ("nope",)], "v string"
    )
    kept = sorted(r.v for r in bloom_prefilter(cand, "v", regs).collect())
    assert kept == ["m-1", "m-1", "m-2"]


def test_mixture_sample_oracle_and_quotas(spark):
    """Weighted mix construction: exact largest-remainder quotas, and
    the drawn sample hash-matches a DuckDB oracle replicating the md5
    shuffle order with the same (inlined) quota table."""
    from mod_reservoir_spark.pipeline.sampling import (
        mixture_quotas,
        mixture_sample,
    )

    weights = {"en": 0.5, "de": 0.25, "fr": 0.2, "zz": 0.05}
    quotas = mixture_quotas(weights, 101)
    assert sum(quotas.values()) == 101
    assert quotas["en"] == 51 and quotas["de"] == 25
    assert quotas["fr"] == 20 and quotas["zz"] == 5

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = mixture_sample(docs, weights, 101)
    vals = ", ".join(
        f"('{k}', {v})" for k, v in sorted(quotas.items())
    )
    sql = f"""
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
    _hash_vs_oracle(out, _duck_documents(sf), sql)
    # absent stratum ('zz') contributes nothing; shortfall visible
    got = out.groupBy("lang").count().collect()
    langs = {r.lang for r in got}
    assert "zz" not in langs


def test_line_dedup_idempotent(spark):
    """Applying line_dedup to its own output removes nothing further:
    every surviving eligible line is the unique corpus-wide owner."""
    from mod_reservoir_spark.pipeline.dedup import line_dedup

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    once = line_dedup(docs, line_sep=" ", min_chars=1).select(
        "doc_id", "text"
    )
    twice = line_dedup(once, line_sep=" ", min_chars=1)
    changed = twice.filter(F.col("n_kept") != F.col("n_lines")).count()
    assert changed == 0


def test_auto_clusters_occupancy_rule():
    from mod_reservoir_spark.pipeline.similarity import auto_clusters

    assert auto_clusters(64 * 16) == 16  # floor at lo
    assert auto_clusters(640_000) == 10_000  # n/target
    assert auto_clusters(0) == 16


def test_mixture_quotas_rejects_negative_weights():
    from mod_reservoir_spark.pipeline.sampling import mixture_quotas

    with pytest.raises(ValueError):
        mixture_quotas({"a": -1.0, "b": 3.0}, 10)


def test_unigram_logprob_oracle(spark):
    """Self-perplexity quality scores hash-match a DuckDB oracle
    (corpus unigram distribution, 1e6-scaled mean NLL)."""
    from mod_reservoir_spark.pipeline.text import unigram_logprob_scores

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = unigram_logprob_scores(docs)
    toks = (
        "list_filter(regexp_split_to_array(lower(text), '\\s+'),"
        " x -> x <> '')"
    )
    sql = f"""
        WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
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
    """
    _hash_vs_oracle(out, _duck_documents(sf), sql)


def test_unigram_logprob_ranks_rare_text_higher(spark):
    """A doc of globally-unique tokens must outscore a doc of corpus-
    common tokens; empty docs report zeros."""
    from mod_reservoir_spark.pipeline.text import unigram_logprob_scores

    docs = spark.createDataFrame(
        [
            (0, "common common common common"),
            (1, "common common common rareword"),
            (2, "zxqv wkjh pqrs tuvw"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.mean_nll_e6)
        for r in unigram_logprob_scores(docs).collect()
    }
    assert got[3] == (0, 0)
    assert got[2][1] > got[1][1] > got[0][1]


def test_split_assign_oracle(spark):
    """Hash splitting hash-matches a DuckDB oracle (same md5-derived
    28-bit integer, same exact boundary cuts)."""
    from mod_reservoir_spark.pipeline.sampling import split_assign

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    fracs = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = split_assign(docs, fracs)
    b1 = int(0.8 * (1 << 28))
    b2 = int(0.9 * (1 << 28))
    sql = f"""
        SELECT doc_id,
               CASE WHEN u < {b1} THEN 'train'
                    WHEN u < {b2} THEN 'val'
                    ELSE 'test' END AS split
        FROM (
          SELECT doc_id,
                 ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),
                                 1, 7))::BIGINT AS u
          FROM documents)
    """
    _hash_vs_oracle(out, _duck_documents(sf), sql)
    per = {
        r.split: r.n
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert per["train"] > per.get("val", 0) and per["train"] > per.get(
        "test", 0
    )


def test_leakage_safe_split_groups_never_straddle(spark):
    """Near-dup groups land in ONE split; singletons match plain
    hashing of their own id."""
    from mod_reservoir_spark.pipeline.sampling import (
        leakage_safe_split,
        split_assign,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(100)], "doc_id long, text string"
    )
    # pair chains: (0,1),(1,2) one group; (10,11); rest singleton
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "doc_a long, doc_b long"
    )
    out = leakage_safe_split(
        docs, pairs, {"train": 0.5, "val": 0.25, "test": 0.25}
    )
    rows = {r.doc_id: (r.keep_id, r.split) for r in out.collect()}
    assert len(rows) == 100
    assert rows[0] == rows[1] == rows[2]  # whole chain together
    assert rows[10] == rows[11]
    # singleton assignment equals plain split_assign on its own id
    plain = {
        r.doc_id: r.split
        for r in split_assign(
            docs, {"train": 0.5, "val": 0.25, "test": 0.25}
        ).collect()
    }
    for i in range(20, 40):
        assert rows[i] == (i, plain[i])


def test_dsir_weights_oracle(spark):
    """DSIR log importance weights hash-match a DuckDB oracle that
    rebuilds the whole chain — hashed uni+bigram buckets, add-one
    smoothed bucket models of target vs raw, per-bucket micro-nat
    quantization, exact long per-doc sums — on the real corpus with
    target = the doc_id < 50 slice."""
    from mod_reservoir_spark.pipeline.sampling import dsir_weights

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = dsir_weights(docs, docs.filter("doc_id < 50"), buckets=1009)
    sql = """
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
          FROM rc FULL OUTER JOIN tc ON rc.bucket = tc.bucket CROSS JOIN tot),
        scored AS (
          SELECT f.doc_id,
                 CAST(sum(f.tf) AS BIGINT) AS n_feats,
                 CAST(sum(f.tf * l.lam_e6) AS BIGINT) AS logw_e6
          FROM feats f JOIN lam l USING (bucket) GROUP BY 1)
        SELECT d.doc_id,
               COALESCE(s.n_feats, 0) AS n_feats,
               COALESCE(s.logw_e6, 0) AS logw_e6
        FROM documents d LEFT JOIN scored s USING (doc_id)
    """
    _hash_vs_oracle(out, _duck_documents(sf), sql)


def test_dsir_sample_shifts_toward_target(spark):
    """Selection property: with a target drawn from one topic, the
    Gumbel-top-k picks overwhelmingly from that topic; the draw is
    deterministic and matches an independent Python reference of the
    u -> Gumbel -> score chain."""
    import hashlib
    import math

    from mod_reservoir_spark.pipeline.sampling import (
        dsir_sample,
        dsir_weights,
    )

    rows = []
    for i in range(200):
        if i % 2 == 0:
            rows.append((i, f"stellar spectra redshift galaxy survey item {i % 7}"))
        else:
            rows.append((i, f"butter flour sugar oven recipe bake item {i % 7}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.filter("doc_id % 2 = 0 and doc_id < 40")
    got = dsir_sample(docs, target, k=30, buckets=1009)
    picked = [r.doc_id for r in got.orderBy("sample_rank").collect()]
    assert len(picked) == 30
    astro = sum(1 for d in picked if d % 2 == 0)
    assert astro >= 27, f"expected astro-dominated pick, got {astro}/30"
    # independent reference of the noise + ranking chain
    w = {
        r.doc_id: r.logw_e6
        for r in dsir_weights(docs, target, buckets=1009).collect()
    }
    scores = {}
    for d, logw in w.items():
        h = hashlib.md5(f"dsir:{d}".encode()).hexdigest()[:7]
        u = (int(h, 16) + 1) / float((1 << 28) + 1)
        scores[d] = logw + round(-math.log(-math.log(u)) * 1000000)
    want = [d for d, _ in sorted(scores.items(), key=lambda t: (-t[1], t[0]))][:30]
    assert picked == want


def test_perplexity_buckets_oracle(spark):
    """Per-language head/middle/tail banding hash-matches a DuckDB
    oracle: unigram self-perplexity scores, rank-position ppm, exact
    integer band cuts."""
    from mod_reservoir_spark.pipeline.text import perplexity_buckets

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = perplexity_buckets(docs)
    toks = (
        "list_filter(regexp_split_to_array(lower(text), '\\s+'),"
        " x -> x <> '')"
    )
    sql = f"""
        WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
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
    """
    _hash_vs_oracle(out, _duck_documents(sf), sql)


def test_perplexity_buckets_semantics(spark):
    """Bands are per-stratum: each language's best third is head; a
    singleton stratum is head; bucket sizes split ~evenly."""
    from mod_reservoir_spark.pipeline.text import perplexity_buckets

    rows = []
    for i in range(30):
        # doc i repeats a token whose corpus frequency rises with i:
        # low i -> rare tokens -> high NLL -> tail
        rows.append((i, "en", " ".join(f"tok{j}" for j in range(i + 1))))
    rows.append((100, "xx", "lone stratum doc"))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r.doc_id: (r.bucket, r.pos_ppm)
        for r in perplexity_buckets(docs).collect()
    }
    assert got[100] == ("head", 0)
    en = [v for k, v in got.items() if k != 100]
    from collections import Counter

    c = Counter(b for b, _ in en)
    assert c["head"] == 10 and c["middle"] == 10 and c["tail"] == 10


def test_write_training_shards_layout(spark, tmp_path):
    """The materialized layout: hive-partitioned by (stratum,
    shard_id), one parquet file per shard, rows inside a shard in
    offset order, token sums matching pack_shards exactly."""
    import glob
    import os

    import pyarrow.parquet as pq

    from mod_reservoir_spark.pipeline.sampling import (
        pack_shards,
        write_training_shards,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = str(tmp_path / "shards")
    returned = write_training_shards(docs, out, shard_tokens=2000)
    want = {
        (r.lang, r.shard_id): r
        for r in pack_shards(docs, shard_tokens=2000).collect()
    }
    shard_dirs = sorted(glob.glob(f"{out}/lang=*/shard_id=*"))
    assert shard_dirs, "no shard directories written"
    seen = set()
    for d in shard_dirs:
        lang = d.split("lang=")[1].split("/")[0]
        sid = int(d.split("shard_id=")[1])
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, f"{d}: expected ONE file per shard"
        t = pq.read_table(os.path.join(d, files[0]))
        offs = t.column("offset_tokens").to_pylist()
        assert offs == sorted(offs), f"{d}: rows not in offset order"
        for doc in t.column("doc_id").to_pylist():
            seen.add((lang, sid, doc))
    want_rows = {
        (r.lang, r.shard_id, r.doc_id)
        for r in pack_shards(docs, shard_tokens=2000).collect()
    }
    assert seen == want_rows
    assert returned.count() == len(want_rows)


def test_dsir_model_score_split_equals_convenience(spark):
    """dsir_model once + dsir_score per batch must equal dsir_weights,
    and scoring a batch against a persisted λ must not depend on the
    raw corpus being present (round-trip through parquet)."""
    from mod_reservoir_spark.pipeline.sampling import (
        dsir_model,
        dsir_score,
        dsir_weights,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    target = docs.filter("doc_id < 50")
    want = {
        r.doc_id: (r.n_feats, r.logw_e6)
        for r in dsir_weights(docs, target, buckets=1009).collect()
    }
    lam = dsir_model(docs, target, buckets=1009)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        lam.write.parquet(f"{d}/lam")
        lam2 = spark.read.parquet(f"{d}/lam")
        got = {
            r.doc_id: (r.n_feats, r.logw_e6)
            for r in dsir_score(docs, lam2, buckets=1009).collect()
        }
    assert got == want
    # scoring a new batch with unseen-bucket text: neutral 0 weight,
    # no crash
    from pyspark.sql import functions as F

    newb = spark.createDataFrame(
        [(9999, "zzzqqq xxxyyy completely unseen vocabulary")],
        "doc_id long, text string",
    )
    row = dsir_score(newb, lam, buckets=1009).collect()[0]
    assert row.n_feats > 0


def test_normalize_text_nfc_oracle(spark):
    """NFC normalization hash-matches DuckDB's nfc_normalize on mixed
    composed/decomposed text; changed-flags and NULL pass-through
    pinned."""
    from mod_reservoir_spark.pipeline.text import normalize_text

    rows = [
        (0, "café menu"),       # decomposed é -> composed
        (1, "café menu"),        # already NFC
        (2, "plain ascii text"),
        (3, None),
        (4, "Å ngström"),  # Å (angstrom sign) + diaeresis
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = normalize_text(docs)
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t(doc_id BIGINT, text VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = """
        SELECT doc_id,
               nfc_normalize(text) AS text,
               CASE WHEN COALESCE(nfc_normalize(text), '')
                         <> COALESCE(text, '')
                    THEN 1 ELSE 0 END AS changed
        FROM t
    """
    from tools.oracle_check import arrow_rows, table_hash

    scols, srows, stags = arrow_rows(out.toArrow())
    dcols, drows, dtags = arrow_rows(con.execute(sql).arrow())
    assert sorted(scols) == sorted(dcols)
    assert table_hash(srows, scols, stags) == table_hash(drows, dcols, dtags)
    got = {r.doc_id: (r.text, r.changed) for r in out.collect()}
    assert got[0] == ("café menu", 1)
    assert got[1][1] == 0
    assert got[3] == (None, 0)
    # casefold form is strictly stronger than lower()
    from mod_reservoir_spark.pipeline.text import normalize_text as nt

    cf = {
        r.doc_id: r.text
        for r in nt(
            spark.createDataFrame(
                [(0, "STRAßE")], "doc_id long, text string"
            ),
            form="NFKC",
            casefold=True,
        ).collect()
    }
    assert cf[0] == "strasse"


def test_domain_quality_report(spark):
    """Per-host rollup: attribution to the min host, no-URL docs under
    '', keep ratios and reject csv aggregated."""
    from mod_reservoir_spark.pipeline.text import domain_quality_report

    good = " ".join(f"tok{i} word{i} item{i} thing{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (0, good + " see https://a.example.com/x"),
            (1, "tiny http://a.example.com/y"),
            (2, good + " link http://b.example.net/z more"),
            (3, good + " no urls in this one at all"),
            (4, good + " two https://z.example.org/1 http://a.example.com/2"),
        ],
        "doc_id long, text string",
    )
    got = {r.host: r for r in domain_quality_report(docs).collect()}
    assert set(got) == {"a.example.com", "b.example.net", ""}
    a = got["a.example.com"]
    assert a.n_docs == 3 and a.n_keep == 2  # doc 1 is too_short
    assert a.keep_ppm == 666666
    assert "too_short" in a.reject_csv
    assert got[""].n_docs == 1 and got[""].n_keep == 1


def test_near_contamination_catches_paraphrase(spark):
    """A corpus doc that shares most of a benchmark item's SHINGLES
    but few verbatim 8-grams (sentences reordered) is flagged by the
    near-dup check while the verbatim contamination score stays low;
    distinct id namespaces don't cross-contaminate."""
    from mod_reservoir_spark.pipeline.dedup import near_contamination
    from mod_reservoir_spark.pipeline.text import contamination

    s = [f"sentence {w} alpha beta gamma delta epsilon {w} zeta" for w in
         ("one", "two", "three", "four", "five", "six")]
    bench_text = " ".join(s)
    reordered = " ".join(s[::-1])
    filler = " ".join(f"noise{i} filler{i} pad{i}" for i in range(20))
    docs = spark.createDataFrame(
        # doc_id 0 COLLIDES with the benchmark id on purpose
        [(0, filler), (1, reordered), (2, "totally different body here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, bench_text)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in near_contamination(docs, bench).collect()}
    assert got[1].n_bench_matches == 1 and got[1].worst_bench_id == 0
    assert got[1].max_jaccard_ppm > 700000
    assert got[0].n_bench_matches == 0  # id collision is harmless
    assert got[2].n_bench_matches == 0
    # the verbatim 8-gram check scores the reordered doc much lower
    # than its shingle jaccard — the gap this operator exists to close
    verbatim = {
        r.doc_id: r.contamination_ppm
        for r in contamination(docs, bench).collect()
    }
    assert verbatim[1] < 700000


def test_lsh_tune_anchors_and_monotonicity():
    """Known S-curve anchors and the bands-vs-threshold direction."""
    import pytest as _pytest

    from mod_reservoir_spark.pipeline.dedup import lsh_tune

    assert lsh_tune(500000, 16) == (4, 4)
    b_low, r_low = lsh_tune(200000, 16)   # low threshold -> more bands
    b_high, r_high = lsh_tune(900000, 16)  # high -> longer rows
    assert b_low > b_high and r_low < r_high
    assert b_low * r_low == 16 and b_high * r_high == 16
    # recall-heavy weighting never lowers the band count
    b_rec, _ = lsh_tune(500000, 16, fn_weight=10.0)
    assert b_rec >= 4
    with _pytest.raises(ValueError):
        lsh_tune(0)


def test_chunk_text_oracle(spark):
    """Sliding-window chunking hash-matches a DuckDB oracle on the
    real corpus (window 16, overlap 4)."""
    from mod_reservoir_spark.pipeline.text import chunk_text

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = chunk_text(docs, max_tokens=16, overlap=4)
    toks = (
        "list_filter(regexp_split_to_array(lower(text), '\\s+'),"
        " x -> x <> '')"
    )
    sql = f"""
        WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
        st AS (
          SELECT doc_id, toks,
                 unnest(list_filter(
                   range(0, greatest(len(toks), 1), 12),
                   s -> s = 0 OR s + 4 < len(toks))) AS start
          FROM t WHERE len(toks) > 0),
        numbered AS (
          SELECT doc_id, toks, start,
                 CAST(row_number() OVER
                      (PARTITION BY doc_id ORDER BY start) - 1
                      AS BIGINT) AS chunk_id
          FROM st)
        SELECT doc_id, chunk_id,
               CAST(len(toks[start + 1: start + 16]) AS BIGINT)
                 AS n_tokens,
               array_to_string(toks[start + 1: start + 16], ' ') AS text
        FROM numbered
    """
    _hash_vs_oracle(out, _duck_documents(sf), sql)


def test_chunk_text_semantics(spark):
    """Overlap invariants: every chunk but the last is full size,
    consecutive chunks share exactly `overlap` tokens, concatenating
    de-overlapped chunks restores the token stream."""
    from mod_reservoir_spark.pipeline.text import chunk_text

    words = [f"w{i}" for i in range(53)]
    docs = spark.createDataFrame(
        [(0, " ".join(words)), (1, "a b"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    rows = sorted(
        (r.doc_id, r.chunk_id, r.text.split())
        for r in chunk_text(docs, max_tokens=16, overlap=4).collect()
    )
    chunks0 = [t for d, _, t in rows if d == 0]
    assert all(len(c) == 16 for c in chunks0[:-1])
    rebuilt = chunks0[0][:]
    for prev, cur in zip(chunks0, chunks0[1:]):
        assert prev[-4:] == cur[:4]  # the shared overlap
        rebuilt.extend(cur[4:])
    assert rebuilt == words
    assert [t for d, _, t in rows if d == 1] == [["a", "b"]]
    assert not any(d in (2, 3) for d, _, _ in rows)


def _has_pil():
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_multimodal_auto_dispatch_without_pil(spark):
    """auto_decode()/auto_resize() resolve to the honest strict seam
    when Pillow is absent, and to the real PIL path when present —
    the import-guarded deploy dispatch (VERDICT r6 'Next #8')."""
    import pytest as _pytest

    if _has_pil():
        _pytest.skip("PIL present — covered by the real-decode test")
    assert mm.auto_decode() is mm.strict_decode
    assert mm.auto_resize() is mm.strict_resize


def test_multimodal_pil_real_decode(spark):
    """Skip-if-absent REAL decode: a generated PNG round-trips through
    extract_features + resize_images with the PIL-backed seam."""
    import pytest as _pytest

    if not _has_pil():
        _pytest.skip("Pillow not installed in this container")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (200, 100), (10, 20, 30)).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame([("m1", bytearray(png))], "id string, blob binary")
    media = mm.to_media_table(df, "id", "blob", "image", "image/png")
    assert mm.auto_decode() is mm.pil_decode
    feats = mm.extract_features(media, decoder=mm.auto_decode()).collect()
    assert (feats[0].width, feats[0].height, feats[0].channels) == (200, 100, 3)
    out = mm.resize_images(
        media, 100, 100,
        decoder=mm.auto_decode(), resizer=mm.auto_resize(),
    ).collect()
    assert (out[0].out_width, out[0].out_height) == (100, 50)
    assert out[0].n_bytes_out > 0


def test_canonical_url_and_url_dedup_oracle(spark):
    """URL canonicalization + URL-level dedup hash-match a DuckDB
    replica of every normalization step on crafted crawl URLs
    (tracking params, reordered query, www/port/fragment/trailing-
    slash variants all collapse; distinct pages stay distinct)."""
    import duckdb

    from mod_reservoir_spark.pipeline.text import (
        canonical_url_expr,
        url_dedup,
    )

    urls = [
        (1, "https://www.Example.com:443/a/b/?utm_source=x&z=2&a=1#frag"),
        (2, "https://example.com/a/b?a=1&z=2"),
        (3, "http://example.com:80/a/b?a=1&z=2"),  # http != https
        (4, "https://example.com/a/b?z=2&a=1&fbclid=abc"),
        (5, "https://example.com/other"),
        (6, "https://example.com/other/"),
        (7, "http://sub.example.com/a/b?a=1&z=2"),
        (8, "https://example.com/a/b?a=2&z=2"),  # different value
        # non-http(s) inputs pass through RAW (ADVICE r7: they used to
        # all collapse into the constant key '://' and get dropped)
        (9, "ftp://files.example.com/x"),
        (10, "mailto:alice@example.com"),
        (11, "mailto:bob@example.com"),
        (12, "//cdn.example.com/lib.js"),
        (13, None),  # NULL url keeps itself
        (14, "ftp://files.example.com/x"),  # exact raw dup of 9
    ]
    pages = spark.createDataFrame(urls, "doc_id long, url string")

    got = {
        r.doc_id: (r.canonical_url, r.keeper, r.is_kept)
        for r in url_dedup(pages).collect()
    }
    # 1,2,4 collapse (https); 3 stays apart (scheme); 5,6 collapse;
    # 7 and 8 are singletons
    assert got[1][0] == got[2][0] == got[4][0] == "https://example.com/a/b?a=1&z=2"
    assert got[1][1:] == (1, 1) and got[2][1:] == (1, 0) and got[4][1:] == (1, 0)
    assert got[3][0] == "http://example.com/a/b?a=1&z=2"
    assert got[3][2] == 1
    assert got[5][0] == got[6][0] == "https://example.com/other"
    assert got[7][2] == 1 and got[8][2] == 1
    # raw passthrough: distinct non-http urls never collapse...
    assert got[9][0] == "ftp://files.example.com/x"
    assert got[10][2] == 1 and got[11][2] == 1 and got[12][2] == 1
    # ...but byte-identical ones still dedup
    assert got[14][:2] == ("ftp://files.example.com/x", 9)
    assert got[14][2] == 0
    # NULL url: NULL canonical key, keeps itself
    assert got[13] == (None, 13, 1)

    # full-step DuckDB replica over the same rows
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pages(doc_id BIGINT, url VARCHAR)"
    )
    con.executemany("INSERT INTO pages VALUES (?, ?)", urls)
    sql = r"""
    WITH s AS (
      SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM pages),
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
    _hash_vs_oracle(url_dedup(pages), con, sql)


def test_bigram_logprob_oracle(spark):
    """Interpolated-bigram self-perplexity hash-matches a DuckDB
    oracle on the real documents table (the same SQL the contract
    row carries)."""
    import __spark_entry__ as em
    from mod_reservoir_spark.pipeline.text import ngram_logprob_scores

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = ngram_logprob_scores(docs, 2).withColumnRenamed(
        "n_ngrams", "n_bigrams"
    )
    _hash_vs_oracle(out, _duck_documents(sf), em._bigram_logprob_oracle())


def test_bigram_logprob_exact_small(spark):
    """Hand-checkable corpus: the Jelinek-Mercer arithmetic matches a
    Python replication exactly; docs with < 2 tokens report zeros."""
    import math

    from mod_reservoir_spark.pipeline.text import ngram_logprob_scores

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "a c"), (3, "solo"), (4, "")],
        "doc_id long, text string",
    )
    # corpus: ctf a=3 b=2 c=1 solo=1, T=7; bigrams ab x2 ac x1; c1[a]=3
    lam = 0.8
    T = 7.0
    p_ab = lam * 2 / 3 + (1.0 - lam) * 2 / T
    p_ac = lam * 1 / 3 + (1.0 - lam) * 1 / T
    got = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in ngram_logprob_scores(docs, 2).collect()
    }
    assert got[0] == (1, round(-math.log(p_ab) * 1e6))
    assert got[1] == got[0]
    assert got[2] == (1, round(-math.log(p_ac) * 1e6))
    assert got[3] == (0, 0)
    assert got[4] == (0, 0)


def test_bigram_logprob_word_order_sensitivity(spark):
    """The signal unigram scoring cannot see: a token-permuted copy of
    a fluent document scores strictly higher (same unigram counts,
    never-seen bigrams)."""
    from mod_reservoir_spark.pipeline.text import (
        ngram_logprob_scores,
        unigram_logprob_scores,
    )

    rows = [(i, "alpha beta gamma delta") for i in range(10)]
    rows.append((99, "delta gamma beta alpha"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bg = {
        r.doc_id: r.mean_nll_e6
        for r in ngram_logprob_scores(docs, 2).collect()
    }
    ug = {
        r.doc_id: r.mean_nll_e6
        for r in unigram_logprob_scores(docs).collect()
    }
    assert bg[99] > bg[0]          # bigram model flags the shuffle
    assert ug[99] == ug[0]         # unigram model is blind to it


def test_near_dedup_keep_quality_keeper(spark):
    """keep_by: the component keeper is the highest-scoring member
    (ties to min doc_id); column-name and expression forms agree; the
    default policy is unchanged."""
    from pyspark.sql import functions as F

    from mod_reservoir_spark.pipeline.dedup import near_dedup_keep

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (10, base),
        (11, base + " lambda"),
        (12, base + " lambda mu"),   # longest of the chain
        (20, "completely different words one two three four five six"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_hashes=16, bands=4, shingle_n=1, threshold_ppm=500000)
    by_len = {
        r.doc_id: (r.keep_id, r.is_kept)
        for r in near_dedup_keep(
            docs, keep_by=F.length("text"), **kw
        ).collect()
    }
    assert by_len[12] == (12, 1)
    assert by_len[10] == (12, 0) and by_len[11] == (12, 0)
    assert by_len[20] == (20, 1)

    # column-name form over a precomputed score column
    named = {
        r.doc_id: r.keep_id
        for r in near_dedup_keep(
            docs.withColumn("score", F.length("text")),
            keep_by="score", **kw,
        ).collect()
    }
    assert named == {d: k for d, (k, _) in by_len.items()}

    # score ties fall back to the min doc_id (constant score == the
    # default policy)
    tied = {
        r.doc_id: r.keep_id
        for r in near_dedup_keep(docs, keep_by=F.lit(1), **kw).collect()
    }
    default = {
        r.doc_id: r.keep_id
        for r in near_dedup_keep(docs, **kw).collect()
    }
    assert tied == default
    assert default[12] == 10


def test_perplexity_buckets_bigram_scorer(spark):
    """scorer="bigram" ranks by the interpolated-bigram NLL: a
    token-permuted copy of the common document lands in a strictly
    worse band position than the fluent copies; unknown scorer names
    raise."""
    from mod_reservoir_spark.pipeline.text import (
        ngram_logprob_scores,
        perplexity_buckets,
    )

    rows = [(i, "en", "alpha beta gamma delta epsilon") for i in range(8)]
    rows.append((99, "en", "epsilon delta gamma beta alpha"))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {
        r.doc_id: (r.mean_nll_e6, r.pos_ppm, r.bucket)
        for r in perplexity_buckets(docs, scorer="bigram").collect()
    }
    bg = {
        r.doc_id: r.mean_nll_e6
        for r in ngram_logprob_scores(docs, 2).collect()
    }
    assert out[99][0] == bg[99]       # ranks by the bigram score
    assert out[99][1] == 1000000      # permuted doc is the worst rank
    assert out[99][2] == "tail"
    assert out[0][2] == "head"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        perplexity_buckets(docs, scorer="kenlm").collect()


def test_semantic_dedup_centroid_far_keeper(spark):
    """keep="centroid_far" implements the SemDeDup paper's keeper:
    the duplicate-component member with the LOWEST cosine to its cell
    centroid survives (ids 0 and 1 are a near-identical pair; 1 is
    slightly farther from the centroid that doc 2 pulls away, so the
    paper policy keeps 1 where min_id keeps 0); unknown policies
    raise."""
    import pytest as _pytest

    from mod_reservoir_spark.pipeline.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.31, 0.0, 0.0]),   # dup pair, closer to centroid
            (1, [1.0, 0.30, 0.0, 0.0]),   # dup pair, farther
            (2, [0.0, 1.0, 0.0, 0.0]),    # pulls the centroid toward y
        ],
        "vec_id long, embedding array<double>",
    )
    kw = dict(n_clusters=1, threshold=0.99, iterations=1)
    by_id = {
        r.vec_id: (r.keep_id, r.is_kept)
        for r in semantic_dedup(emb, **kw).collect()
    }
    assert by_id[0] == (0, 1) and by_id[1] == (0, 0)
    far = {
        r.vec_id: (r.keep_id, r.is_kept)
        for r in semantic_dedup(emb, keep="centroid_far", **kw).collect()
    }
    assert far[0] == (1, 0) and far[1] == (1, 1)
    # the singleton keeps itself under both policies
    assert by_id[2] == (2, 1) and far[2] == (2, 1)

    with _pytest.raises(ValueError):
        semantic_dedup(emb, keep="random", **kw)


def test_perplexity_buckets_under_reference_tables(spark):
    """The full CCNet recipe: per-language reference models rank the
    corpus and the banding is done per language — buckets under
    lm_tables match ngram_logprob_against scores, and lm_tables wins
    over scorer."""
    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_logprob_against,
        perplexity_buckets,
    )

    rows = [
        (0, "en", "the cat sat on the mat"),
        (1, "en", "mat the on sat cat the"),      # permuted english
        (2, "de", "die katze sass auf der matte"),
        (3, "de", "matte der auf sass katze die"),  # permuted german
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    # clean reference: the fluent docs only
    ref = docs.filter(F.col("doc_id").isin(0, 2))
    tables = ngram_count_tables(ref, 2, strata=("lang",))
    out = {
        r.doc_id: (r.mean_nll_e6, r.bucket)
        for r in perplexity_buckets(
            docs, lm_tables=tables, table_strata=("lang",)
        ).collect()
    }
    scores = {
        r.doc_id: r.mean_nll_e6
        for r in ngram_logprob_against(
            docs, tables, strata=("lang",)
        ).collect()
    }
    for i in scores:
        assert out[i][0] == scores[i]
    # within each language the permuted copy ranks worse
    assert out[1][0] > out[0][0] and out[3][0] > out[2][0]
    assert out[0][1] == "head" and out[2][1] == "head"
    assert out[1][1] == "tail" and out[3][1] == "tail"


def test_trigram_logprob_exact_small(spark):
    """Hand-checkable corpus: the order-3 interpolated-backoff
    arithmetic matches a Python replication exactly; docs with < 3
    tokens report zeros."""
    import math

    from mod_reservoir_spark.pipeline.text import ngram_logprob_scores

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "a b d"), (3, "a b"), (4, "")],
        "doc_id long, text string",
    )
    # trigrams: abc x2, abd x1 -> c2(a,b)=3
    # bigrams: ab x4, bc x2, bd x1 -> c1(b)=3
    # unigrams: a4 b4 c2 d1, T=11
    l3, l2 = 0.6, 0.3
    p_abc = l3 * 2 / 3 + l2 * 2 / 3 + (1.0 - l3 - l2) * 2 / 11
    p_abd = l3 * 1 / 3 + l2 * 1 / 3 + (1.0 - l3 - l2) * 1 / 11
    got = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in ngram_logprob_scores(docs, 3).collect()
    }
    assert got[0] == (1, round(-math.log(p_abc) * 1e6))
    assert got[1] == got[0]
    assert got[2] == (1, round(-math.log(p_abd) * 1e6))
    assert got[3] == (0, 0)
    assert got[4] == (0, 0)


def test_trigram_logprob_oracle(spark):
    """Order-3 self-scoring hash-matches the DuckDB oracle on the real
    documents table (the same SQL the contract row carries)."""
    import __spark_entry__ as em
    from mod_reservoir_spark.pipeline.text import ngram_logprob_scores

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = ngram_logprob_scores(docs, 3).withColumnRenamed(
        "n_ngrams", "n_trigrams"
    )
    _hash_vs_oracle(out, _duck_documents(sf), em._trigram_logprob_oracle())


def test_trigram_word_order_and_vs_bigram(spark):
    """The trigram sees junk the bigram cannot: text stitched from
    CORPUS-ATTESTED bigrams in an unattested order scores strictly
    worse under the trigram model than the fluent original, and
    shuffling tokens raises the trigram NLL of the shuffled copy
    above the original's."""
    from mod_reservoir_spark.pipeline.text import ngram_logprob_scores

    base = "the cat sat on the mat and the dog ran to the cat"
    shuffled = "mat the on cat sat the to ran dog the and cat the"
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, base), (3, shuffled)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.mean_nll_e6 for r in
           ngram_logprob_scores(docs, 3).collect()}
    assert got[3] > got[0]


@pytest.mark.parametrize("order", [2, 3])
def test_lm_strata_equals_per_stratum_models(spark, order):
    """Per-language LM (the CCNet shape) at orders 2 and 3: scoring
    with strata=("lang",) over a mixed corpus equals scoring each
    language's sub-corpus under its own unstratified tables; a
    document whose language has no model falls to the OOV floor."""
    import math

    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_logprob_against,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang", "text")
    tables = ngram_count_tables(docs, order, strata=("lang",))
    got = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in ngram_logprob_against(
            docs, tables, strata=("lang",)
        ).collect()
    }
    want = {}
    for lang in [r.lang for r in docs.select("lang").distinct().collect()]:
        sub = docs.filter(F.col("lang") == lang)
        want.update(
            (r.doc_id, (r.n_ngrams, r.mean_nll_e6))
            for r in ngram_logprob_against(
                sub, ngram_count_tables(sub, order)
            ).collect()
        )
    assert got == want

    # unseen stratum: every token OOV -> the floor exactly
    alien = spark.createDataFrame(
        [(9, "xx", "qq zz qq")], "doc_id long, lang string, text string"
    )
    floor = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in ngram_logprob_against(
            alien, tables, strata=("lang",)
        ).collect()
    }
    assert floor[9] == (4 - order, round(-math.log(1e-6) * 1e6))


def test_perplexity_buckets_trigram_scorer(spark):
    """scorer='trigram' (and the 3-tuple lm_tables form) rank by the
    order-3 NLL: band assignment matches re-deriving the ranking from
    ngram_logprob_scores(docs, 3) directly; the 3-tuple reference form
    agrees with self-scoring on the same corpus."""
    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_logprob_scores,
        perplexity_buckets,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang", "text")
    got = {
        r.doc_id: (r.mean_nll_e6, r.bucket)
        for r in perplexity_buckets(docs, scorer="trigram").collect()
    }
    scores = {
        r.doc_id: r.mean_nll_e6
        for r in ngram_logprob_scores(docs, 3).collect()
    }
    assert {i: s for i, (s, _) in got.items()} == scores
    # band edges: recompute per-lang rank positions
    langs = {r.doc_id: r.lang for r in docs.collect()}
    for lang in set(langs.values()):
        ids = sorted(
            (i for i in scores if langs[i] == lang),
            key=lambda i: (scores[i], i),
        )
        n = max(len(ids) - 1, 1)
        for pos, i in enumerate(ids):
            ppm_pos = pos * 1000000 // n
            want = ("head" if ppm_pos < 333334
                    else "middle" if ppm_pos < 666667 else "tail")
            assert got[i][1] == want, (lang, i)
    # 3-tuple reference form == self-scoring banding on the same
    # corpus — under short_docs="zero", the self-scorers' semantics
    # (the lm_tables default is now "backoff", matching the gate)
    tables = ngram_count_tables(docs, 3)
    ref = {
        r.doc_id: (r.mean_nll_e6, r.bucket)
        for r in perplexity_buckets(
            docs, lm_tables=tables, short_docs="zero"
        ).collect()
    }
    assert ref == got


def test_ngram_logprob_5gram_python_reference(spark):
    """Order-5 (the CCNet KenLM shape) against a direct Python
    implementation on a hand-sized corpus, including short docs and
    every backoff level firing."""
    import math

    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_logprob_against,
    )

    texts = [
        "a b c d e a b c d e",
        "a b c d x",
        "b c d e a",
        "x y",
        "",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    tables = ngram_count_tables(docs, 5)
    got = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in ngram_logprob_against(docs, tables).collect()
    }
    toks = {i: t.split() if t else [] for i, t in enumerate(texts)}
    counts = [dict() for _ in range(6)]  # counts[k][tuple] for k=1..5
    for ts in toks.values():
        for k in range(1, 6):
            for j in range(len(ts) - k + 1):
                g = tuple(ts[j:j + k])
                counts[k][g] = counts[k].get(g, 0) + 1
    T = sum(counts[1].values())
    lams = (0.4, 0.25, 0.15, 0.1)  # orders 5,4,3,2; unigram = 0.1
    for i, ts in toks.items():
        grams = [tuple(ts[j:j + 5]) for j in range(len(ts) - 4)]
        if not grams:
            assert got[i] == (0, 0), i
            continue
        nll = 0.0
        for g in grams:
            p = 0.0
            for idx, lam in enumerate(lams):
                k = 5 - idx
                sub = g[5 - k:]
                ctx = counts[k - 1].get(sub[:-1], 0) if k > 1 else None
                # context total for order k = sum of k-gram counts
                # sharing the k-1 prefix — equals the (k-1)-gram count
                # EXCEPT at document tails; recompute honestly:
                ctx = sum(
                    n for gg, n in counts[k].items()
                    if gg[:-1] == sub[:-1]
                )
                if ctx > 0:
                    p += lam * counts[k].get(sub, 0) / ctx
            p += (1.0 - sum(lams)) * counts[1][(g[-1],)] / T
            nll += -math.log(p)
        want = round(nll / len(grams) * 1e6)
        assert got[i] == (len(grams), want), (i, got[i], want)


def test_ngram_logprob_short_doc_backoff(spark):
    """short_docs="backoff" closes the r8 short-doc bypass: a doc with
    1 <= t < N tokens contributes ONE right-aligned window where the
    structurally-unavailable orders j > t score 0 (the unseen-context
    contract) and the orders it supports attach normally — so it backs
    off to the highest order it has (KenLM never exempts short docs)
    and reports a finite NLL instead of (0, 0). Full-length docs are
    BIT-identical to the default "zero" mode, and only 0-token docs
    still report zeros."""
    import math

    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_logprob_against,
    )

    texts = [
        "a b c d e a b c d e",   # full length
        "a b c d x",             # exactly N
        "b c d e",               # t=4 < N
        "c d e",                 # t=3
        "x y",                   # t=2, in-vocab
        "zzz qqq",               # t=2, fully OOV
        "e",                     # t=1: unigram only
        "",                      # 0 tokens: still zeros
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    # REFERENCE tables from docs 0-4 only, so doc 5 is genuinely OOV
    # (the production shape: frozen clean-corpus model, incoming docs)
    tables = ngram_count_tables(docs.filter("doc_id <= 4"), 5)
    zero = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in ngram_logprob_against(docs, tables).collect()
    }
    got = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in ngram_logprob_against(
            docs, tables, short_docs="backoff"
        ).collect()
    }
    toks = {i: t.split() if t else [] for i, t in enumerate(texts)}
    # full-length docs: bit-identical to "zero" mode
    for i, ts in toks.items():
        if len(ts) >= 5:
            assert got[i] == zero[i], i
    # 0-token doc: still zeros
    assert got[7] == (0, 0)
    # short docs: n_ngrams=1 and the exact padded-window value
    # (counts from the REFERENCE docs 0-4 only, matching the tables)
    counts = [dict() for _ in range(6)]
    for i, ts in toks.items():
        if i > 4:
            continue
        for k in range(1, 6):
            for j in range(len(ts) - k + 1):
                g = tuple(ts[j : j + k])
                counts[k][g] = counts[k].get(g, 0) + 1
    T = sum(counts[1].values())
    lams = (0.4, 0.25, 0.15, 0.1)  # orders 5,4,3,2; unigram 0.1
    for i, ts in toks.items():
        t = len(ts)
        if not (1 <= t < 5):
            continue
        p = 0.0
        for idx, lam in enumerate(lams):
            k = 5 - idx
            if k > t:
                continue  # padded NULL keys: join miss -> 0
            sub = tuple(ts[t - k :])
            ctx = sum(
                n for gg, n in counts[k].items() if gg[:-1] == sub[:-1]
            )
            if ctx > 0:
                p += lam * counts[k].get(sub, 0) / ctx
        uni = counts[1].get((ts[-1],), 0)
        p += (1.0 - sum(lams)) * uni / T if uni > 0 else 1e-6
        want = round(-math.log(p) * 1e6)
        assert got[i] == (1, want), (i, got[i], want)
    # the regression the fix exists for: the OOV short doc used to
    # score (0, 0) and pass ANY threshold; now it's the worst band
    assert zero[5] == (0, 0)
    assert got[5][1] > 13_000_000


def test_ngram_logprob_lambda_validation(spark):
    """Non-positive weights or sum(lambdas_ppm) >= 1e6 would drive the
    unigram remainder <= 0 and -log(p) into NaN/inf — rejected up
    front (ADVICE r8)."""
    import pytest as _pytest

    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_logprob_against,
    )

    docs = spark.createDataFrame(
        [(0, "a b c")], "doc_id long, text string"
    )
    tables = ngram_count_tables(docs, 2)
    for bad in ((1000000,), (0,), (-5,)):
        with _pytest.raises(ValueError):
            ngram_logprob_against(docs, tables, lambdas_ppm=bad)
    with _pytest.raises(ValueError):
        ngram_logprob_against(docs, tables, short_docs="nope")
    t3 = ngram_count_tables(docs, 3)
    with _pytest.raises(ValueError):
        ngram_logprob_against(docs, t3, lambdas_ppm=(600000, 400000))


def test_ngram_logprob_scores_and_buckets_backoff(spark):
    """ngram_logprob_scores is the any-order self-scoring face (equal
    to scoring against the per-order tables at order 3), and
    perplexity_buckets' reference-model path exposes the same
    short-doc contract as the curate gate: under "zero" a doc shorter
    than the order scores 0 and ranks into the HEAD (best) band — the
    footgun — while
    "backoff" scores it under the highest order it supports, sending
    OOV short spam to the tail where KenLM would put it."""
    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_logprob_against,
        ngram_logprob_scores,
        perplexity_buckets,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    got = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in ngram_logprob_scores(docs, 3).collect()
    }
    want = {
        r.doc_id: (r.n_ngrams, r.mean_nll_e6)
        for r in ngram_logprob_against(
            docs, ngram_count_tables(docs, 3)
        ).collect()
    }
    assert got == want

    ref = spark.createDataFrame(
        [(100, "the glacier moraine retreats slowly each year"),
         (101, "the glacier moraine advances slowly each winter")],
        "doc_id long, text string",
    )
    tables = ngram_count_tables(ref, 5)
    crawl = spark.createDataFrame(
        [(0, "the glacier moraine retreats slowly each year", "en"),
         (1, "the glacier moraine advances slowly each winter", "en"),
         (2, "zzq qxx", "en")],  # OOV, shorter than the order
        "doc_id long, text string, lang string",
    )
    zero = {
        r.doc_id: r.bucket
        for r in perplexity_buckets(
            crawl, lm_tables=tables, short_docs="zero"
        ).collect()
    }
    back = {
        r.doc_id: r.bucket
        for r in perplexity_buckets(
            crawl, lm_tables=tables, short_docs="backoff"
        ).collect()
    }
    dflt = {
        r.doc_id: r.bucket
        for r in perplexity_buckets(crawl, lm_tables=tables).collect()
    }
    assert zero[2] == "head"   # the footgun, now explicit opt-in only
    assert back[2] == "tail"   # backoff: worst NLL -> worst band
    assert back[0] == "head"
    # the reference-model default is backoff — the gate's semantics
    # (VERDICT r9 "What's wrong" #2)
    assert dflt == back


def test_ngram_count_tables_combined_equals_per_order(spark):
    """The one-pass KenLM-shaped build (tokens right-padded with N-1
    NULLs -> one prefix-closed window-count table -> every order
    derived) produces EXACTLY ngram_count_tables' counts at every
    order, with and without strata — the equality that lets
    ngram_logprob_scores take the measured 26-41 % win without moving
    a single count."""
    from mod_reservoir_spark.pipeline.text import (
        ngram_count_tables,
        ngram_count_tables_combined_n,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "lang")
    for strata in ((), ("lang",)):
        a = ngram_count_tables(docs, 4, strata=strata)
        b, n_windows = ngram_count_tables_combined_n(
            docs, 4, strata=strata
        )
        assert n_windows > 0
        for i, (x, y) in enumerate(zip(a, b)):
            assert sorted(x.columns) == sorted(y.columns), i
            ra = sorted(map(tuple, x.select(*sorted(x.columns)).collect()))
            rb = sorted(map(tuple, y.select(*sorted(y.columns)).collect()))
            assert ra == rb, (strata, i)


def test_combined_prefix_fuses_count_into_checkpoint_job(spark):
    """r10 VERDICT #3: the LM scorers' broadcast-vs-merge decision
    must not pay a Spark job per call. _combined_prefix materializes
    a LAZY localCheckpoint with the SAME count() that returns
    n_windows — strictly fewer jobs than the old eager-checkpoint +
    separate-decision-count shape, and the count is exact."""
    import time

    from mod_reservoir_spark.pipeline.lm_model import build_lm_prefix
    from mod_reservoir_spark.pipeline.text import _combined_prefix

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sc = spark.sparkContext

    def jobs_in(group):
        # AppStatusStore updates via the async listener bus — poll
        # briefly until the job set is stable to avoid a flake
        prev, same = -1, 0
        for _ in range(50):
            n = len(sc.statusTracker().getJobIdsForGroup(group))
            same = same + 1 if n == prev else 0
            if same >= 3:
                return n
            prev = n
            time.sleep(0.05)
        return prev

    sc.setJobGroup("lm_old_shape", "eager checkpoint + decision count")
    p_old = build_lm_prefix(docs, 2, "text", ()).localCheckpoint(eager=True)
    n_old = p_old.count()
    old_jobs = jobs_in("lm_old_shape")

    sc.setJobGroup("lm_new_shape", "lazy checkpoint fused with count")
    prefix, n = _combined_prefix(docs, 2)
    new_jobs = jobs_in("lm_new_shape")
    sc.setJobGroup("lm_done", "")

    assert n == n_old
    assert new_jobs < old_jobs, (new_jobs, old_jobs)
    # the frame really is materialized: a reuse must not re-run the
    # scan→explode→shuffle subtree (its plan is the checkpointed RDD)
    assert "Scan parquet" not in prefix._jdf.queryExecution().toString()
