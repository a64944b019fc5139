"""GoldRush golden-corpus tests (FIXTURES.md §F4): exact-string asserts
against the reference's assertion file, loaded from the read-only
reference tree (js/test/assertions-goldrush2024.json)."""

import json
import os

import pytest

from mod_reservoir_spark.functions.goldrush import (
    goldrush_udf,
    matchkey,
    matchkey2021_or_error,
    matchkey_or_error,
)

REF = "/root/reference/js"
ASSERTIONS = f"{REF}/test/assertions-goldrush2024.json"
ASSERTIONS_2021 = f"{REF}/test/assertions-goldrush2021.json"

# carried by the tests that open reference files; the rest run anywhere
needs_reference = pytest.mark.skipif(
    not os.path.exists(ASSERTIONS), reason="reference corpus not present"
)


def corpus():
    assertions = json.load(open(ASSERTIONS))
    for path, expected in assertions.items():
        raw = open(f"{REF}/{path}").read()
        yield path, raw, expected


def payload_of(raw: str) -> str:
    return json.dumps({"marc": json.loads(raw)})


@needs_reference
def test_golden_corpus_exact():
    """Every parseable record and the MARC-structure errors match the
    reference byte-for-byte. The one documented deviation: V8's JSON
    syntax error text differs from Python's."""
    mismatches = []
    for path, raw, expected in corpus():
        try:
            got = matchkey_or_error(payload_of(raw))
        except json.JSONDecodeError:
            got = "<json-error>"
        if "broken-json" in path:
            assert got == "<json-error>"
            continue
        if got != expected:
            mismatches.append((path, expected, got))
    assert not mismatches, mismatches


@needs_reference
def test_golden_corpus_2021_exact():
    """GoldRush v1.1.0 (September 2021) — byte-exact against
    js/test/assertions-goldrush2021.json (same harness contract as the
    2024 corpus; errors surface as the key string)."""
    assertions = json.load(open(ASSERTIONS_2021))
    mismatches = []
    for path, expected in assertions.items():
        raw = open(f"{REF}/{path}").read()
        try:
            got = matchkey2021_or_error(json.dumps({"marc": json.loads(raw)}))
        except json.JSONDecodeError:
            got = "<json-error>"
        if "broken-json" in path:
            assert got == "<json-error>"
            continue
        if got != expected:
            mismatches.append((path, expected, got))
    assert not mismatches, mismatches


def test_goldrush2021_registered_as_matcher():
    from mod_reservoir_spark.operators.matchkeys import get_module

    fn = get_module("goldrush2021::matchkey")
    keys = fn({"marc": {"fields": [
        {"245": {"ind1": " ", "ind2": " ",
                 "subfields": [{"a": "Symphony"}, {"h": "[sound recording]"}]}},
    ]}})
    assert len(keys) == 1
    # 2021 key carries the 5-wide GMD slot right after the 70-wide title
    assert keys[0][70:75] == "sound"


def test_error_messages_match_reference():
    assert (
        matchkey_or_error(json.dumps({"marc": {"fields": "nope"}}))
        == "MARC fields is not an array."
    )
    assert (
        matchkey_or_error(json.dumps({"marc": {}}))
        == "MARC fields array is missing."
    )


def test_default_leader_applied():
    # non-'r' dateType reads date2 (008[11:15]) — goldrush.mjs:168-174
    key = matchkey(
        json.dumps({"marc": {"fields": [{"008": "000000s19992000xx"}]}})
    )
    # default leader '00000nam a22000000a 4500' → typeOfRecord 'a'
    assert key[70 + 4 + 4 + 3 + 5] == "a"
    assert key[70:74] == "2000"


@needs_reference
def test_goldrush_as_spark_udf(spark):
    rows = [
        (path, payload_of(raw))
        for path, raw, _ in corpus()
        if "invalid" not in path
    ]
    expected = {
        path: exp for path, _, exp in corpus() if "invalid" not in path
    }
    df = spark.createDataFrame(rows, "path string, payload string")
    got = {
        r.path: r.key
        for r in df.select(
            "path", goldrush_udf()(df.payload).alias("key")
        ).collect()
    }
    assert got == expected
