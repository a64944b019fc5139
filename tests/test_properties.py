"""Property-based tests (hypothesis) for the pure-function seams:
codec roundtrips and arithmetic invariants that unit fixtures only
spot-check."""

from datetime import datetime, timedelta

from hypothesis import given, settings, strategies as st

from mod_reservoir_spark.operators.export import (
    decode_resumption_token,
    encode_resumption_token,
)
from mod_reservoir_spark.pipeline.multimodal import fit_dims

ids = st.text(
    alphabet=st.characters(whitelist_categories=("L", "N"), max_codepoint=127),
    min_size=1,
    max_size=20,
)
stamps = st.datetimes(
    min_value=datetime(1990, 1, 1), max_value=datetime(2100, 1, 1)
)


@settings(max_examples=200, deadline=None)
@given(from_dt=stamps, rec_id=ids, until_dt=st.none() | stamps,
       set_id=st.none() | ids, space_sep=st.booleans())
def test_resumption_token_roundtrip(from_dt, rec_id, until_dt, set_id,
                                    space_sep):
    """Any (from, id, until?, set?) combination survives the codec —
    including timestamps rendered with a space separator (the round-1
    corruption shape flagged in ADVICE)."""
    sep = " " if space_sep else "T"
    from_ts = from_dt.isoformat(sep=sep)
    until = until_dt.isoformat(sep=sep) if until_dt else None
    tok = encode_resumption_token(from_ts, rec_id, until=until,
                                  set_id=set_id)
    out = decode_resumption_token(tok)
    assert out["from"] == from_ts.replace(" ", "T")
    assert out["id"] == rec_id
    assert out["until"] == (until.replace(" ", "T") if until else None)
    assert out["set"] == set_id


dims = st.integers(min_value=1, max_value=100_000)


@settings(max_examples=500, deadline=None)
@given(w=dims, h=dims, mw=dims, mh=dims)
def test_fit_dims_invariants(w, h, mw, mh):
    ow, oh = fit_dims(w, h, mw, mh)
    assert 1 <= ow <= max(mw, 0) or (w <= mw and ow == w)
    assert ow <= mw and oh <= mh          # fits the box
    assert ow <= w and oh <= h            # never upscales
    if (w, h) != (ow, oh):                # scaled: exact floor of ratio
        if w * mh >= h * mw:
            assert ow == mw and oh == max(1, h * mw // w)
        else:
            assert oh == mh and ow == max(1, w * mh // h)
    # idempotence: fitting the result again is a no-op
    assert fit_dims(ow, oh, mw, mh) == (ow, oh)


@settings(max_examples=200, deadline=None)
@given(
    field=st.sampled_from(["localId", "sourceId", "id"]),
    value=st.text(
        alphabet=st.characters(whitelist_categories=("N",)),
        min_size=1, max_size=6,
    ),
)
def test_cql_id_fields_compare_as_text(field, value):
    """Numeric-looking literals on id-like fields stay strings in the
    generated SQL (ADVICE: 'localId = 0001' must not become int 1)."""
    from mod_reservoir_spark.operators.clusters import RECORD_FIELDS
    from mod_reservoir_spark.plans.cql import parse_cql

    sql = parse_cql(f"{field} = {value}").to_sql(RECORD_FIELDS)
    assert f"'{value}'" in sql


@settings(max_examples=300, deadline=None)
@given(data=st.binary(max_size=400))
def test_marc8_decoder_is_total(data):
    """marc8_to_unicode is a TOTAL function: any byte sequence —
    truncated escapes, unmapped sets, mid-character EOF, stray
    combining halves — decodes to a str without raising (marc4j's
    permissive-reader contract; a hostile upload must never crash the
    decode task)."""
    from mod_reservoir_spark.functions.marc8 import marc8_to_unicode

    out = marc8_to_unicode(data)
    assert isinstance(out, str)


@settings(max_examples=300, deadline=None)
@given(data=st.binary(max_size=400))
def test_marc8_decoder_total_with_loaded_tables(data):
    """Same totality with the loadable (multibyte EACC) tables active —
    the 3-byte lookup path must handle truncation and G1 masking on
    arbitrary input."""
    import os

    from mod_reservoir_spark.functions import marc8

    saved = {k: marc8._SETS.get(k) for k in (0x31, 0x34, 0x53)}
    try:
        marc8.load_codetables(
            os.path.join(
                os.path.dirname(__file__), "fixtures", "codetables-mini.xml"
            )
        )
        assert isinstance(marc8.marc8_to_unicode(data), str)
    finally:
        for k, v in saved.items():
            if v is None:
                marc8._SETS.pop(k, None)
            else:
                marc8._SETS[k] = v


@settings(max_examples=200, deadline=None)
@given(data=st.binary(max_size=600))
def test_iso2709_parser_is_total(data):
    """Framing + permissive decode never raise on arbitrary bytes
    (bad lengths, junk between records, inconsistent directories)."""
    from mod_reservoir_spark.sources.iso2709 import parse_iso2709

    for rec in parse_iso2709(data):
        assert "leader" in rec and "fields" in rec


def test_bloom_never_false_negative_property():
    """Property: for ANY inserted value set, bloom_might_contain is
    true for every member (driver-side mirror of the distributed bit
    derivation — the Bloom guarantee has no exceptions)."""
    from hypothesis import given, settings, strategies as st

    from mod_reservoir_spark.pipeline.sketches import bloom_might_contain

    import hashlib

    def bits_of(values, n_hashes=4, m_bits=4096):
        bits = set()
        for v in values:
            for d in range(n_hashes):
                h = hashlib.md5(f"{d}:{v}".encode()).hexdigest()
                bits.add(int(h[:4], 16) % m_bits)
        return bits

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.text(min_size=0, max_size=40), max_size=50))
    def check(values):
        bits = bits_of(values)
        for v in values:
            assert bloom_might_contain(bits, v)

    check()


def test_mixture_quotas_property():
    """Property: quotas always sum EXACTLY to n_total, are
    non-negative, and are within 1 of the proportional share."""
    from hypothesis import given, settings, strategies as st

    from mod_reservoir_spark.pipeline.sampling import mixture_quotas

    @settings(max_examples=200, deadline=None)
    @given(
        st.dictionaries(
            st.text(min_size=1, max_size=8),
            st.floats(
                min_value=0.001, max_value=1000, allow_nan=False
            ),
            min_size=1,
            max_size=10,
        ),
        st.integers(min_value=0, max_value=10000),
    )
    def check(weights, n_total):
        q = mixture_quotas(weights, n_total)
        assert sum(q.values()) == n_total
        total_w = sum(weights.values())
        for k, w in weights.items():
            share = w * n_total / total_w
            assert q[k] >= 0
            assert abs(q[k] - share) < 1 + 1e-9

    check()


def test_line_dedup_matches_python_reference(spark):
    """Property: line_dedup equals a direct Python implementation of
    the first-occurrence-keeps rule over randomized small corpora
    (including empty lines, within-doc repeats, and min_chars
    exemptions)."""
    from hypothesis import given, settings, strategies as st

    from mod_reservoir_spark.pipeline.dedup import line_dedup

    line = st.sampled_from(["", "x", "dup line", "other dup", "u1", "u2 longer"])
    doc = st.lists(line, min_size=0, max_size=5).map("\n".join)

    @settings(max_examples=15, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=5))
    def check(texts):
        min_chars = 2
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {
            r.doc_id: (r.text, r.n_lines, r.n_kept)
            for r in line_dedup(docs, min_chars=min_chars).collect()
        }
        seen: set[str] = set()
        for i, t in enumerate(texts):
            lines = t.split("\n")
            kept = []
            for ln in lines:
                if len(ln) < min_chars:
                    kept.append(ln)
                elif ln not in seen:
                    seen.add(ln)
                    kept.append(ln)
            assert got[i] == ("\n".join(kept), len(lines), len(kept)), (
                i,
                texts,
            )

    check()


def test_remove_duplicate_spans_matches_python_reference(spark):
    """Property: the ExactSubstr surgery equals the independent Python
    reference over randomized small corpora — within-doc repeats,
    overlapping windows, sub-k docs, duplicated whole docs."""
    from hypothesis import given, settings, strategies as st

    from mod_reservoir_spark.pipeline.dedup import remove_duplicate_spans
    from tests.test_pipeline import _ref_remove_duplicate_spans

    word = st.sampled_from(["a", "b", "c", "dd", "ee"])
    doc = st.lists(word, min_size=0, max_size=10).map(" ".join)

    @settings(max_examples=15, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=5), st.integers(2, 4))
    def check(texts, k):
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {
            r.doc_id: (r.text, r.n_tokens, r.n_removed)
            for r in remove_duplicate_spans(docs, k=k).collect()
        }
        want = _ref_remove_duplicate_spans(list(enumerate(texts)), k)
        assert got == want, (texts, k)

    check()


def test_bigram_jm_arithmetic_matches_python_reference(spark):
    """Property: over random small corpora, the distributed
    Jelinek-Mercer bigram scorer matches an independent pure-Python
    implementation — exact bigram counts, mean NLL within 1 micro-nat
    (float summation order differs between the engines, so the 1e6
    rounding may land one off at half-way boundaries)."""
    import math
    from collections import Counter

    from hypothesis import given as _given, settings as _settings
    from hypothesis import strategies as _st

    from mod_reservoir_spark.pipeline.text import ngram_logprob_scores

    def ref_scores(rows, lam=0.8):
        toks = {i: t.split() for i, t in rows}
        uni = Counter(w for ts in toks.values() for w in ts)
        T = sum(uni.values())
        big = Counter(
            (ts[j], ts[j + 1])
            for ts in toks.values()
            for j in range(len(ts) - 1)
        )
        c1 = Counter()
        for (w1, _w2), c in big.items():
            c1[w1] += c
        out = {}
        for i, ts in toks.items():
            prs = [(ts[j], ts[j + 1]) for j in range(len(ts) - 1)]
            if not prs:
                out[i] = (0, 0)
                continue
            nll = sum(
                -math.log(
                    lam * big[p] / c1[p[0]] + (1 - lam) * uni[p[1]] / T
                )
                for p in prs
            )
            out[i] = (len(prs), round(nll / len(prs) * 1e6))
        return out

    doc = _st.lists(
        _st.sampled_from(["a", "b", "c", "dd", "eee"]),
        min_size=0, max_size=12,
    ).map(" ".join)
    corpus = _st.lists(doc, min_size=1, max_size=8)

    @_given(corpus)
    @_settings(max_examples=5, deadline=None)
    def run(texts):
        rows = list(enumerate(texts))
        got = {
            r.doc_id: (r.n_ngrams, r.mean_nll_e6)
            for r in ngram_logprob_scores(
                spark.createDataFrame(rows, "doc_id long, text string"), 2
            ).collect()
        }
        want = ref_scores(rows)
        assert set(got) == set(want)
        for i in want:
            assert got[i][0] == want[i][0], (i, got[i], want[i])
            assert abs(got[i][1] - want[i][1]) <= 1, (i, got[i], want[i])

    run()


def test_trigram_logprob_matches_python_reference(spark):
    """Property: the order-3 interpolated-backoff scorer equals a
    direct Python implementation over randomized small corpora (the
    bigram family's pin one order up) — including docs shorter than 3
    tokens, repeated trigrams, and shared contexts across docs."""
    import math

    from hypothesis import given, settings, strategies as st

    from mod_reservoir_spark.pipeline.text import ngram_logprob_scores

    word = st.sampled_from(["a", "b", "c", "dd", "ee"])
    doc = st.lists(word, min_size=0, max_size=6).map(" ".join)

    @settings(max_examples=12, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=5))
    def check(texts):
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {
            r.doc_id: (r.n_ngrams, r.mean_nll_e6)
            for r in ngram_logprob_scores(docs, 3).collect()
        }
        toks = {i: t.split() if t else [] for i, t in enumerate(texts)}
        ct: dict = {}
        cb: dict = {}
        ctf: dict = {}
        for ts in toks.values():
            for j in range(len(ts) - 2):
                ct[tuple(ts[j:j + 3])] = ct.get(tuple(ts[j:j + 3]), 0) + 1
            for j in range(len(ts) - 1):
                cb[tuple(ts[j:j + 2])] = cb.get(tuple(ts[j:j + 2]), 0) + 1
            for w in ts:
                ctf[w] = ctf.get(w, 0) + 1
        c2 = {}
        for (w1, w2, _w3), n in ct.items():
            c2[(w1, w2)] = c2.get((w1, w2), 0) + n
        c1 = {}
        for (w1, _w2), n in cb.items():
            c1[w1] = c1.get(w1, 0) + n
        T = sum(ctf.values())
        l3, l2 = 0.6, 0.3
        for i, ts in toks.items():
            tris = [tuple(ts[j:j + 3]) for j in range(len(ts) - 2)]
            if not tris:
                assert got[i] == (0, 0)
                continue
            nll = 0.0
            for tg in tris:
                w1, w2, w3 = tg
                p = (l3 * ct[tg] / c2[(w1, w2)]
                     + l2 * cb[(w2, w3)] / c1[w2]
                     + (1.0 - l3 - l2) * ctf[w3] / T)
                nll += -math.log(p)
            want = round(nll / len(tris) * 1e6)
            assert got[i] == (len(tris), want), (i, ts)

    check()


@settings(max_examples=300, deadline=None)
@given(data=st.data())
def test_cap_select_matches_brute_order(data):
    """pq._cap_select must agree with a brute (score desc, id asc,
    NaN floored, self-pairs excluded) top-cap per query for ANY
    round-6 score matrix and ANY ids inside its guard bound —
    including the adversarial mixes (large negative + large positive
    ids near score ties) that broke the pre-r11 2^41 bucket; ids at
    or past ±2^41 must return None (the unreduced-emit fallback)."""
    import numpy as np

    from mod_reservoir_spark.pipeline.pq import _cap_select

    bound = 1 << 41
    nq = data.draw(st.integers(1, 4))
    nr = data.draw(st.integers(2, 12))
    cap = data.draw(st.integers(1, nr - 1))
    id_pool = st.integers(-(bound - 1), bound - 1) | st.sampled_from(
        [bound - 1, -(bound - 1), 0, 1, -1, bound - 2, -(bound - 2)]
    )
    nids = np.array(
        data.draw(
            st.lists(id_pool, min_size=nr, max_size=nr, unique=True)
        ),
        dtype=np.int64,
    )
    qids = np.array(
        data.draw(
            st.lists(id_pool, min_size=nq, max_size=nq, unique=True)
        ),
        dtype=np.int64,
    )
    # round-6 scores in [-1, 1] with NaNs sprinkled in; near-tie
    # values (multiples of 1e-6) maximize bucket-boundary stress
    s = np.round(
        np.array(
            data.draw(
                st.lists(
                    st.one_of(
                        st.just(float("nan")),
                        st.integers(-1_000_000, 1_000_000).map(
                            lambda v: v / 1e6
                        ),
                    ),
                    min_size=nq * nr,
                    max_size=nq * nr,
                )
            )
        ).reshape(nq, nr),
        6,
    )
    got = _cap_select(s, nids, qids, cap)
    assert got is not None
    rowq, coln = got
    sel = {(int(rowq[i]), int(coln[i])) for i in range(len(rowq))}
    for q in range(nq):
        # brute reference: floor NaN, drop self-pair, sort by
        # (-score, id), keep first cap columns
        order = sorted(
            (c for c in range(nr) if nids[c] != qids[q]),
            key=lambda c: (
                -(-2.0 if np.isnan(s[q, c]) else s[q, c]),
                nids[c],
            ),
        )[:cap]
        assert {(q, c) for c in order} == {
            (r, c) for (r, c) in sel if r == q
        }, (q, s[q], nids, qids)

    # out-of-bound ids -> None (fallback), including int64.min whose
    # abs overflows
    for bad in (bound, -bound, np.iinfo(np.int64).min):
        bad_ids = nids.copy()
        bad_ids[0] = bad
        assert _cap_select(s, bad_ids, qids, cap) is None
