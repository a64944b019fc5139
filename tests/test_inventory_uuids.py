"""UUID-profile inventory transforms pinned to the REAL consortium
stylesheets: xsl/uuids/* run through the driver JVM's
javax.xml.transform (with file-based sources so the map-relator
xsl:import resolves), output converted with the InventoryToXml
arr/i convention — functions/inventory_uuids.py must produce the
identical JSON for every record."""

import os
import xml.etree.ElementTree as ET

import pytest

from mod_reservoir_spark.functions.inventory_uuids import (
    cst_uuids_inventory,
    map_relator,
    marc_to_inventory_uuids,
)
from mod_reservoir_spark.sources.marcxml import parse_marcxml
from tests.test_inventory import SYNTH_999, fixture_records, inventory_xml_to_json

UUIDS_DIR = "/root/reference/xsl/uuids"
RES = "/root/reference/util/src/test/resources"

# carried by the tests that open reference files; the rest run anywhere
needs_reference = pytest.mark.skipif(
    not os.path.exists(f"{UUIDS_DIR}/marc2inventory-instance.xsl"),
    reason="reference uuids stylesheets not present",
)


_XSLTC_DIR: str | None = None


def _xsltc_compatible_dir() -> str:
    """Materialize the uuids stylesheets into a temp dir with two
    MECHANICAL rewrites the JDK's XSLTC compiler needs (the reference
    build runs them under Saxon-HE, which is not in this container;
    both rewrites are semantics-preserving under any XSLT 1.0 engine):

    - ``current()[@tag='NNN']`` → ``@tag='NNN'`` — inside those
      for-each bodies the XPath context IS current(); the base
      stylesheet itself uses the short form.
    - the 536-branch map-relator xsl:choose (which XSLTC compiles
      into one >64 KB JVM method) is split into chained templates:
      each chunk's xsl:otherwise calls the next chunk, preserving
      first-match order exactly; the final otherwise is the original
      default.
    """
    global _XSLTC_DIR
    if _XSLTC_DIR is not None:
        return _XSLTC_DIR
    import re
    import tempfile

    d = tempfile.mkdtemp(prefix="uuids_xsl_")
    for name in (
        "marc2inventory-instance.xsl",
        "holdings-items-cst-uuids.xsl",
        "library-codes-cst-uuids.xsl",
    ):
        src = open(f"{UUIDS_DIR}/{name}").read()
        src = re.sub(r"current\(\)\[(@tag='[0-9]+')\]", r"\1", src)
        with open(f"{d}/{name}", "w") as f:
            f.write(src)

    rel = open(f"{UUIDS_DIR}/map-relator-to-contributor-type.xsl").read()
    whens = re.findall(r"<xsl:when[^\n]*</xsl:when>", rel)
    assert len(whens) == 536
    default = re.search(
        r"<xsl:otherwise>[0-9a-f-]+</xsl:otherwise>", rel
    ).group(0)
    chunks = [whens[i : i + 60] for i in range(0, len(whens), 60)]
    parts = []
    for i, chunk in enumerate(chunks):
        name = "map-relator" if i == 0 else f"map-relator-{i}"
        tail = (
            f'<xsl:otherwise><xsl:call-template name="map-relator-{i + 1}"/>'
            "</xsl:otherwise>"
            if i + 1 < len(chunks)
            else default
        )
        parts.append(
            f'<xsl:template name="{name}"><xsl:choose>'
            + "".join(chunk)
            + tail
            + "</xsl:choose></xsl:template>"
        )
    split = (
        '<?xml version="1.0" encoding="UTF-8"?>\n<xsl:stylesheet'
        ' version="1.0"'
        ' xmlns:xsl="http://www.w3.org/1999/XSL/Transform"'
        ' xmlns:marc="http://www.loc.gov/MARC21/slim">'
        + "".join(parts)
        + "</xsl:stylesheet>"
    )
    with open(f"{d}/map-relator-to-contributor-type.xsl", "w") as f:
        f.write(split)
    _XSLTC_DIR = d
    return d


def jvm_xslt_file(spark, xsl_path: str, xml_str: str) -> str:
    """Run a real XSLT 1.0 transform in the driver JVM, with the
    stylesheet's file path as systemId so relative xsl:import hrefs
    (map-relator-to-contributor-type.xsl) resolve."""
    jvm = spark._jvm
    tf = jvm.javax.xml.transform.TransformerFactory.newInstance()
    templates = tf.newTemplates(
        jvm.javax.xml.transform.stream.StreamSource(
            jvm.java.io.StringReader(open(xsl_path).read()),
            f"file://{xsl_path}",
        )
    )
    tr = templates.newTransformer()
    sw = jvm.java.io.StringWriter()
    tr.transform(
        jvm.javax.xml.transform.stream.StreamSource(
            jvm.java.io.StringReader(xml_str)
        ),
        jvm.javax.xml.transform.stream.StreamResult(sw),
    )
    return sw.toString()


def uuids_chain_oracle(spark, xml: str) -> dict:
    d = _xsltc_compatible_dir()
    out = xml
    for xsl in (
        "marc2inventory-instance.xsl",
        "holdings-items-cst-uuids.xsl",
        "library-codes-cst-uuids.xsl",
    ):
        out = jvm_xslt_file(spark, f"{d}/{xsl}", out)
    return inventory_xml_to_json(ET.fromstring(out))["record"]


@needs_reference
def test_uuids_chain_matches_real_stylesheets(spark):
    fixtures = fixture_records()
    assert len(fixtures) == 10
    mismatches = []
    for xml, marc in fixtures:
        expected = uuids_chain_oracle(spark, xml)
        got = cst_uuids_inventory(marc)
        if got != expected:
            mismatches.append((marc.get("fields", [{}])[0], expected, got))
    assert not mismatches, mismatches[:1]


@needs_reference
def test_uuids_chain_999_locations(spark):
    """Real location codes dereference to their UUIDs, unknown codes
    to the Unmapped UUID; the $preloc quirk and item grouping match
    the Deref chain."""
    xml = (
        SYNTH_999.replace("zloc", "STACKS")
        .replace("aloc", "GUNST")
        .replace("bloc", "nosuchloc")
    )
    marc = list(parse_marcxml(xml.encode()))[0]
    expected = uuids_chain_oracle(spark, xml)
    got = cst_uuids_inventory(marc)
    assert got == expected
    holdings = got["holdingsRecords"]
    by_loc = {h["permanentLocationId"]: h for h in holdings}
    # STACKS and GUNST from the table; xxxx + nosuchloc (twice) → Unmapped
    assert "6c290638-8012-59d4-9c85-51cdc90cfe37" in by_loc  # STACKS
    assert "9a68643c-a417-518f-98ef-ae58f7e3e573" in by_loc  # GUNST
    unmapped = [
        h
        for h in holdings
        if h["permanentLocationId"] == "9b8ea9cb-9caf-5b7f-8473-a9c06d2fb3cc"
    ]
    assert len(unmapped) == 3  # xxxx + the repeated nosuchloc pair
    assert got["institutionId"] == "a1decabf-302e-5e4f-9bbe-f11cbcde7296"


@needs_reference
def test_uuids_chain_no_999_unmapped(spark):
    xml = SYNTH_999.split("<datafield")[0] + "</record>"
    marc = list(parse_marcxml(xml.encode()))[0]
    expected = uuids_chain_oracle(spark, xml)
    got = cst_uuids_inventory(marc)
    assert got == expected
    # 'UNMAPPED' marker is not in the location table → Unmapped UUID
    assert got["holdingsRecords"] == [
        {"permanentLocationId": "9b8ea9cb-9caf-5b7f-8473-a9c06d2fb3cc"}
    ]


_LEADER_TMPL = """<record xmlns="http://www.loc.gov/MARC21/slim">
  <leader>01000c{mt}{bl} a2200000   4500</leader>
  <controlfield tag="001">t1</controlfield>
  <datafield tag="999" ind1=" " ind2=" ">
    <subfield code="l">STACKS</subfield>
    <subfield code="i">I1</subfield>
  </datafield>
</record>"""


@pytest.mark.parametrize(
    "mt,bl",
    [(m, "m") for m in "acdefgijkmoprtz"] + [("a", "s"), ("a", "b")],
)
@needs_reference
def test_uuids_instance_and_material_type_sweep(spark, mt, bl):
    """Every leader[6]/leader[7] branch of the instanceTypeId and
    materialTypeId chooses matches the real stylesheets."""
    xml = _LEADER_TMPL.format(mt=mt, bl=bl)
    marc = list(parse_marcxml(xml.encode()))[0]
    assert cst_uuids_inventory(marc) == uuids_chain_oracle(spark, xml)


_RELATOR_TMPL = """<record xmlns="http://www.loc.gov/MARC21/slim">
  <leader>01000cam a2200000   4500</leader>
  <controlfield tag="001">r1</controlfield>
  <datafield tag="100" ind1="1" ind2=" ">
    <subfield code="a">Doe, J.</subfield>
    {subfields}
  </datafield>
</record>"""


@pytest.mark.parametrize(
    "subfields",
    [
        '<subfield code="e">author</subfield>',
        '<subfield code="e">aut</subfield>',
        '<subfield code="4">ill</subfield>',
        '<subfield code="4">illustrator</subfield>',
        '<subfield code="e">no such relator</subfield>',  # → default
        # multi-relator: FIRST matching when wins (order semantic)
        '<subfield code="e">artist</subfield>'
        '<subfield code="e">author</subfield>',
        # $e term beats $4 code because all $e whens precede $4 whens
        '<subfield code="4">aut</subfield>'
        '<subfield code="e">artist</subfield>',
        '<subfield code="e"></subfield>',  # empty value
    ],
)
@needs_reference
def test_uuids_relator_mapping_matches_stylesheet(spark, subfields):
    xml = _RELATOR_TMPL.format(subfields=subfields)
    marc = list(parse_marcxml(xml.encode()))[0]
    assert cst_uuids_inventory(marc) == uuids_chain_oracle(spark, xml)


@needs_reference
def test_uuids_identifier_and_note_types(spark):
    """All identifier-type, classification and note-type UUID branches
    against the real stylesheet, incl. the malformed 520 note id
    transcribed verbatim."""
    xml = """<record xmlns="http://www.loc.gov/MARC21/slim">
  <leader>01000cam a2200000   4500</leader>
  <controlfield tag="001">i1</controlfield>
  <datafield tag="010" ind1=" " ind2=" "><subfield code="a">L1</subfield></datafield>
  <datafield tag="020" ind1=" " ind2=" "><subfield code="a">I2</subfield></datafield>
  <datafield tag="022" ind1=" " ind2=" "><subfield code="a">I3</subfield></datafield>
  <datafield tag="024" ind1=" " ind2=" "><subfield code="a">I4</subfield></datafield>
  <datafield tag="028" ind1=" " ind2=" "><subfield code="a">I5</subfield></datafield>
  <datafield tag="035" ind1=" " ind2=" "><subfield code="a">I6</subfield></datafield>
  <datafield tag="074" ind1=" " ind2=" "><subfield code="a">I7</subfield></datafield>
  <datafield tag="050" ind1=" " ind2=" "><subfield code="a">C1</subfield></datafield>
  <datafield tag="082" ind1=" " ind2=" "><subfield code="a">C2</subfield></datafield>
  <datafield tag="086" ind1=" " ind2=" "><subfield code="a">C3</subfield></datafield>
  <datafield tag="090" ind1=" " ind2=" "><subfield code="a">C4</subfield></datafield>
  <datafield tag="500" ind1=" " ind2=" "><subfield code="a">N1</subfield></datafield>
  <datafield tag="504" ind1=" " ind2=" "><subfield code="a">N2</subfield></datafield>
  <datafield tag="505" ind1=" " ind2=" "><subfield code="a">N3</subfield></datafield>
  <datafield tag="520" ind1=" " ind2=" "><subfield code="a">N4</subfield></datafield>
</record>"""
    marc = list(parse_marcxml(xml.encode()))[0]
    expected = uuids_chain_oracle(spark, xml)
    got = cst_uuids_inventory(marc)
    assert got == expected
    notes = got["instance"]["notes"]
    assert notes[3]["instanceNoteTypeId"] == "0e2e11b-450f-45c8-b09b-0f819999966e"
    idents = got["instance"]["identifiers"]
    # 001 placeholder resolved by the library-codes pass
    assert idents[0]["identifierTypeId"] == "595f900e-ef0f-5529-82bd-47a01c83ccca"


def test_map_relator_unit():
    df = {"subfields": [{"a": "X"}, {"e": "editor"}]}
    edt = map_relator(df)
    assert edt and edt != map_relator({"subfields": [{"e": "zzz"}]})
    # default for no match
    from mod_reservoir_spark.functions.inventory_uuids_data import (
        RELATOR_DEFAULT,
    )

    assert map_relator({"subfields": [{"e": "zzz"}]}) == RELATOR_DEFAULT


@needs_reference
def test_uuids_ingest_spark_path(spark):
    """with_inventory='cst-uuids' populates UUID-profile inventory
    end-to-end through the Arrow-batched decode."""
    import json

    from mod_reservoir_spark.sources.ingest_records import marc_df_to_ingest
    from mod_reservoir_spark.sources.marcxml import read_marcxml

    marc_df = read_marcxml(spark, f"{RES}/record10.xml")
    ingest = marc_df_to_ingest(marc_df, "INV", with_inventory="cst-uuids")
    payloads = [json.loads(r.payload) for r in ingest.collect()]
    assert len(payloads) == 10
    assert all(
        p["inventory"]["institutionId"]
        == "a1decabf-302e-5e4f-9bbe-f11cbcde7296"
        for p in payloads
    )
    assert all(
        "instanceTypeId" in p["inventory"]["instance"] for p in payloads
    )
    assert all("holdingsRecords" in p["inventory"] for p in payloads)
