"""Loadable MARC-8 code tables (EACC/CJK, basic Greek, extended Arabic).

The reference converts these sets through marc4j's bundled copy of the
public LoC code-table XML (reference util/.../readstream/
Marc4jMapper.java:13-95 → marc4j CodeTableXmlParser).  Our engine loads
the same published file at runtime via
``mod_reservoir_spark.functions.marc8.load_codetables`` /
``MARC8_CODETABLES``.  The container has neither network nor the marc4j
jar, so these tests drive the loader with a format-true SYNTHETIC
fixture (tests/fixtures/codetables-mini.xml) — they prove the parsing,
the 3-byte EACC machinery, G0/G1 masking, combining flags, unmapped
fallback, and the full ISO2709 → MARC-in-JSON path; the genuine tables
flow through the identical code path in deployment.
"""

import os

import pytest

from mod_reservoir_spark.functions import marc8
from tests.marc_helpers import build_iso2709

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "codetables-mini.xml")


@pytest.fixture
def loaded_tables():
    """Load the mini code tables; restore module state afterwards."""
    saved = {k: marc8._SETS.get(k) for k in (0x31, 0x34, 0x53)}
    saved_env_flag = marc8._ENV_TABLES_LOADED
    loaded = marc8.load_codetables(FIXTURE)
    yield loaded
    for k, v in saved.items():
        if v is None:
            marc8._SETS.pop(k, None)
        else:
            marc8._SETS[k] = v
    marc8._ENV_TABLES_LOADED = saved_env_flag


def test_loader_reports_sets(loaded_tables):
    assert sorted(loaded_tables) == ["31", "34", "53"]


def test_eacc_g0_three_byte_decode(loaded_tables):
    # ESC $ 1 designates EACC into G0; each character is 3 bytes.
    data = b"\x1b$1\x21\x23\x20\x21\x23\x21\x1b(BX"
    assert marc8.marc8_to_unicode(data) == "一二X"


def test_eacc_g1_high_bit_masked(loaded_tables):
    # ESC $ ) 1 designates EACC into G1 — bytes arrive with the high
    # bit set and must index the same table (marc4j masks identically).
    data = b"\x1b$)1\xa1\xa3\xa0\xa1\xa3\xa1"
    # 0xA0 is not in the G1 graphic range as a *first* byte, but here it
    # is the second byte of a 3-byte EACC char and must be consumed as
    # part of the triple.  First bytes 0xA1 select G1.
    assert marc8.marc8_to_unicode(data) == "一二"


def test_eacc_unmapped_triple_still_replacement(loaded_tables):
    # (21,21,21) is not in the fixture → one U+FFFD for the whole triple
    assert marc8.marc8_to_unicode(b"\x1b$1\x21\x21\x21\x1b(BA") == "�A"


def test_eacc_component_with_empty_ucs_skipped(loaded_tables):
    # fixture maps 212322 to an empty <ucs> → loader skips it → U+FFFD
    assert marc8.marc8_to_unicode(b"\x1b$1\x21\x23\x22") == "�"


def test_eacc_truncated_triple(loaded_tables):
    # record ends mid-character: single replacement, no crash
    assert marc8.marc8_to_unicode(b"\x1b$1\x21\x23") == "�"


def test_basic_greek_and_combining(loaded_tables):
    # ESC ( S → basic Greek; fixture's combining acute precedes the
    # base in MARC-8 and must be reordered after it in Unicode.
    data = b"\x1b(S\x21\x61\x62\x1b(B!"
    assert marc8.marc8_to_unicode(data) == "άβ!"


def test_extended_arabic(loaded_tables):
    data = b"\x1b(4\x56\x1b(B"
    assert marc8.marc8_to_unicode(data) == "پ"


def test_env_var_lazy_load(monkeypatch):
    saved = {k: marc8._SETS.get(k) for k in (0x31, 0x34, 0x53)}
    monkeypatch.setenv("MARC8_CODETABLES", FIXTURE)
    marc8._ENV_TABLES_LOADED = False
    try:
        assert marc8.marc8_to_unicode(b"\x1b$1\x21\x23\x20") == "一"
    finally:
        for k, v in saved.items():
            if v is None:
                marc8._SETS.pop(k, None)
            else:
                marc8._SETS[k] = v
        marc8._ENV_TABLES_LOADED = False


def test_cjk_record_through_iso2709_pipeline(loaded_tables):
    """A MARC-8 record with an EACC title decodes end-to-end through
    the ISO2709 → MARC-in-JSON path (leader[9] rewritten to 'a', CJK
    characters materialized in the 245$a subfield)."""
    from mod_reservoir_spark.sources.iso2709 import parse_iso2709

    raw = build_iso2709(
        [
            ("001", b"cjk1"),
            ("245", b"10\x1faTitle \x1b$1\x21\x23\x20\x21\x23\x21\x1b(B!"),
        ]
    )
    recs = list(parse_iso2709(raw))
    assert len(recs) == 1
    rec = recs[0]
    assert rec["leader"][9] == "a"  # marc4j-style rewrite on conversion
    f245 = next(f["245"] for f in rec["fields"] if "245" in f)
    assert f245["subfields"][0]["a"] == "Title 一二!"


def test_unmapped_set_warns_once_and_status(caplog):
    """Designating EACC with no tables loaded must emit ONE warning per
    process (per set) naming the fix, and codetables_status() must
    report the gap — the visible signal a stock deployment needs."""
    import logging

    marc8._WARNED_SETS.clear()
    caplog.set_level(logging.WARNING, logger=marc8.__name__)
    data = b"\x1b$1\x21\x23\x20\x1b(BX"
    assert marc8.marc8_to_unicode(data) == "�X"
    assert marc8.marc8_to_unicode(data) == "�X"  # second decode
    hits = [
        r for r in caplog.records if "EACC/CJK" in r.getMessage()
    ]
    assert len(hits) == 1  # once per process, not per record
    assert "MARC8_CODETABLES" in hits[0].getMessage()

    status = marc8.codetables_status()
    assert "EACC/CJK" in status["unmapped_sets"]
    assert "EACC/CJK" in status["warned_sets"]
    marc8._WARNED_SETS.clear()


def test_ext_arabic_warns_greek_does_not(caplog):
    """Extended Arabic stays behind the codetables.xml seam (ISO 11822
    has no transcribable-from-layout structure) and must warn; basic
    Greek is built-in as of round 7 and must decode silently."""
    import logging

    marc8._WARNED_SETS.clear()
    caplog.set_level(logging.WARNING, logger=marc8.__name__)
    assert marc8.marc8_to_unicode(b"\x1b(S\x41") == "\u0391"  # Alpha
    marc8.marc8_to_unicode(b"\x1b(4\x41")   # extended Arabic
    msgs = [r.getMessage() for r in caplog.records]
    assert not any("basic Greek" in m for m in msgs)
    assert any("extended Arabic" in m for m in msgs)
    marc8._WARNED_SETS.clear()


# ---------------------------------------------------------------------------
# Built-in Basic Greek (ISO 5428 / LoC code 53) — no external file.
# Pins transcribed from the published LoC table layout; the loadable
# codetables.xml merges OVER these, so the published file stays
# authoritative (load_codetables / test_basic_greek_and_combining).
# Output is DECOMPOSED (base + combining mark), matching marc4j.
# ---------------------------------------------------------------------------


def test_builtin_greek_polytonic_word():
    # logos: lambda, acute+omicron (mark precedes base in MARC-8),
    # gamma, omicron, FINAL sigma — mark reordered after its base.
    data = b"\x1b(S\x6b\x22\x6f\x63\x6f\x72\x1b(B"
    assert marc8.marc8_to_unicode(data) == (
        "\u03bb\u03bf\u0301\u03b3\u03bf\u03c2"
    )


def test_builtin_greek_marks_decompose_after_base():
    # (MARC-8 bytes, decomposed Unicode): iota-subscript, smooth and
    # rough breathings, perispomeni, dialytika, varia — each queued
    # before its base in MARC-8, emitted after it in Unicode.
    cases = [
        (b"\x27\x61", "\u03b1\u0345"),
        (b"\x25\x61", "\u03b1\u0313"),
        (b"\x26\x61", "\u03b1\u0314"),
        (b"\x24\x61", "\u03b1\u0342"),
        (b"\x23\x69", "\u03b9\u0308"),
        (b"\x21\x61", "\u03b1\u0300"),
        # rough breathing + acute stack (classical crasis shape)
        (b"\x26\x22\x61", "\u03b1\u0314\u0301"),
    ]
    for marc, uni in cases:
        assert marc8.marc8_to_unicode(b"\x1b(S" + marc) == uni


def test_builtin_greek_alphabet_runs_and_double_capital_sigma():
    # full lowercase run 0x61..0x79: 25 forms incl. final+medial sigma
    lower = bytes(range(0x61, 0x7A))
    expect = (
        "".join(chr(c) for c in range(0x3B1, 0x3C2))  # alpha..rho
        + "\u03c2\u03c3"
        + "".join(chr(c) for c in range(0x3C4, 0x3CA))  # tau..omega
    )
    assert marc8.marc8_to_unicode(b"\x1b(S" + lower) == expect
    # capitals 0x41..0x59: both sigma-aligned slots 0x52/0x53 give
    # U+03A3 (U+03A2 is unassigned); ISO 5428 keeps the +-0x20 case
    # alignment its sibling ISO 5427 also preserves.
    caps = bytes(range(0x41, 0x5A))
    expect_caps = (
        "".join(chr(c) for c in range(0x391, 0x3A2))
        + "\u03a3\u03a3"
        + "".join(chr(c) for c in range(0x3A4, 0x3AA))
    )
    assert marc8.marc8_to_unicode(b"\x1b(S" + caps) == expect_caps
    for b in range(0x61, 0x7A):
        lo = marc8.marc8_to_unicode(b"\x1b(S" + bytes([b]))
        up = marc8.marc8_to_unicode(b"\x1b(S" + bytes([b - 0x20]))
        assert up == lo.upper()


def test_builtin_greek_in_g1_high_bit():
    # designate Greek as G1 (ESC ) S): bytes 0xA1-0xFE mask to low
    data = b"\x1b)S\xeb\xa2\xef\xe3\xef\xf2"
    assert marc8.marc8_to_unicode(data) == (
        "\u03bb\u03bf\u0301\u03b3\u03bf\u03c2"
    )


def test_builtin_greek_punctuation():
    data = b"\x1b(S\x30\x31\x32\x33\x3b\x3f"
    assert marc8.marc8_to_unicode(data) == (
        "\u00ab\u00bb\u201c\u201d\u0387\u037e"
    )


def test_builtin_greek_unlisted_positions_replacement():
    # positions with no LoC assignment (e.g. 0x28, 0x5D, 0x7E) stay
    # honest U+FFFD rather than guessing
    assert marc8.marc8_to_unicode(b"\x1b(S\x28\x5d\x7e") == "\ufffd" * 3


def test_builtin_greek_status_reports_only_eacc_and_ext_arabic():
    status = marc8.codetables_status()
    assert "basic Greek" not in status["unmapped_sets"]
    assert set(status["unmapped_sets"]) <= {"EACC/CJK", "extended Arabic"}


def test_packaged_codetables_auto_discovered(monkeypatch, tmp_path):
    """Dropping the LoC file at mod_reservoir_spark/data/codetables.xml
    loads it with NO env var set — the documented deploy step."""
    import shutil

    saved = {k: marc8._SETS.get(k) for k in (0x31, 0x34, 0x53)}
    pkg_file = tmp_path / "codetables.xml"
    shutil.copy(FIXTURE, pkg_file)
    monkeypatch.delenv("MARC8_CODETABLES", raising=False)
    monkeypatch.setattr(marc8, "_PACKAGE_CODETABLES", str(pkg_file))
    monkeypatch.setattr(marc8, "_ENV_TABLES_LOADED", False)
    monkeypatch.setattr(marc8, "_CODETABLES_SOURCE", None)
    try:
        assert (
            marc8.marc8_to_unicode(b"\x1b$1\x21\x23\x20\x21\x23\x21")
            == "一二"
        )
        assert marc8.codetables_status()["source"] == str(pkg_file)
        assert marc8.codetables_status()["unmapped_sets"] == []
    finally:
        for k, v in saved.items():
            if v is None:
                marc8._SETS.pop(k, None)
            else:
                marc8._SETS[k] = v


def test_vendored_tables_module_auto_imported(monkeypatch, tmp_path):
    """tools/gen_marc8_builtins.py converts the public codetables.xml
    into functions/marc8_tables_gen.py; marc8 auto-imports it when no
    XML is discovered, so a deployment can vendor the real tables with
    one command. Driven end-to-end on the format-true fixture."""
    import importlib
    import subprocess
    import sys

    import mod_reservoir_spark.functions as fpkg

    gen_path = os.path.join(
        os.path.dirname(fpkg.__file__), "marc8_tables_gen.py"
    )
    assert not os.path.exists(gen_path), "generated module leaked into repo"
    tool = os.path.join(
        os.path.dirname(os.path.dirname(fpkg.__file__)),
        os.pardir,
        "tools",
        "gen_marc8_builtins.py",
    )
    res = subprocess.run(
        [sys.executable, os.path.abspath(tool), FIXTURE],
        capture_output=True,
        text=True,
    )
    assert res.returncode == 0, res.stderr
    saved = {k: marc8._SETS.get(k) for k in (0x31, 0x34, 0x53)}
    try:
        monkeypatch.setattr(marc8, "_ENV_TABLES_LOADED", False)
        monkeypatch.setattr(marc8, "_CODETABLES_SOURCE", None)
        monkeypatch.delenv("MARC8_CODETABLES", raising=False)
        monkeypatch.setattr(
            marc8, "_PACKAGE_CODETABLES", str(tmp_path / "absent.xml")
        )
        marc8._maybe_load_env_tables()
        assert marc8._CODETABLES_SOURCE and marc8._CODETABLES_SOURCE.endswith(
            "marc8_tables_gen.py"
        )
        # EACC triple + basic Greek letter decode through the vendored path
        assert marc8.marc8_to_unicode(b"\x1b$1\x21\x23\x20\x1b(BX") == "一X"
        assert marc8.marc8_to_unicode(b"\x1b(Sab\x1b(B") == "αβ"
    finally:
        for k, v in saved.items():
            if v is None:
                marc8._SETS.pop(k, None)
            else:
                marc8._SETS[k] = v
        os.remove(gen_path)
        sys.modules.pop("mod_reservoir_spark.functions.marc8_tables_gen", None)
        importlib.invalidate_caches()
