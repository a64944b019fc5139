"""MARCXML source: streaming parse of ``<collection><record>…`` into
MARC-in-JSON, plus a byte-level fixer for invalid XML input.

Behavior re-expressed from the reference's StAX pipeline
(reference util/.../readstream/MarcXmlParserToJson.java:1-147,
XmlMetadataParserMarcInJson.java:68-117 — up to 9 indicators; and
XmlFixerMapper.java:1-280 — invalid chars/entities → U+FFFD before
parse, enabled by the ``xmlFixing`` flag, UploadService.java:104,122).

Spark shape: binaryFile rows → mapInPandas with xml.etree.iterparse
per file (constant memory — elements are cleared as records complete).
"""

from __future__ import annotations

import io
import json
import re
from collections.abc import Iterator

from mod_reservoir_spark.sources.iso2709 import _maybe_gunzip

MARC_NS = "{http://www.loc.gov/MARC21/slim}"

# XML 1.0 valid char ranges (outside → replaced by U+FFFD)
_INVALID_XML_CHARS = re.compile(
    "[^\u0009\u000a\u000d\u0020-\ud7ff\ue000-\ufffd]"
)
_BAD_ENTITY = re.compile(rb"&(?!(?:[a-zA-Z][a-zA-Z0-9]*|#[0-9]+|#x[0-9a-fA-F]+);)")
_CHAR_REF = re.compile(rb"&#(x[0-9a-fA-F]+|[0-9]+);")



def _valid_xml_codepoint(cp: int) -> bool:
    return cp in (0x9, 0xA, 0xD) or 0x20 <= cp <= 0xD7FF or 0xE000 <= cp <= 0xFFFD or 0x10000 <= cp <= 0x10FFFF


def _fix_char_ref(m: re.Match) -> bytes:
    ref = m.group(1)
    cp = int(ref[1:], 16) if ref[:1] == b"x" else int(ref)
    return m.group(0) if _valid_xml_codepoint(cp) else b"&#xFFFD;"


def fix_xml_bytes(data: bytes) -> bytes:
    """Best-effort repair of invalid XML input: undecodable UTF-8
    sequences, control characters, and bare ampersands become U+FFFD /
    escaped entities (reference XmlFixerMapper contract)."""
    text = data.decode("utf-8", "replace")
    text = _INVALID_XML_CHARS.sub("�", text)
    out = text.encode("utf-8")
    out = _BAD_ENTITY.sub("&#xFFFD;".encode(), out)
    out = _CHAR_REF.sub(_fix_char_ref, out)
    return out


def _localname(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def parse_marcxml(data: bytes, xml_fixing: bool = False) -> Iterator[dict]:
    """Yield MARC-in-JSON dicts from a MARCXML document (namespace
    optional, like the reference parser)."""
    import xml.etree.ElementTree as ET

    if xml_fixing:
        data = fix_xml_bytes(data)
    context = ET.iterparse(io.BytesIO(data), events=("end",))
    for _, elem in context:
        if _localname(elem.tag) != "record":
            continue
        record: dict = {"fields": []}
        for child in elem:
            name = _localname(child.tag)
            if name == "leader":
                record["leader"] = child.text or ""
            elif name == "controlfield":
                record["fields"].append(
                    {child.get("tag", ""): child.text or ""}
                )
            elif name == "datafield":
                field: dict = {"subfields": []}
                # up to 9 indicators (XmlMetadataParserMarcInJson.java:80-87)
                for i in range(1, 10):
                    ind = child.get(f"ind{i}")
                    if ind is not None:
                        field[f"ind{i}"] = ind
                for sf in child:
                    if _localname(sf.tag) == "subfield":
                        field["subfields"].append(
                            {sf.get("code", ""): sf.text or ""}
                        )
                record["fields"].append({child.get("tag", ""): field})
        yield record
        elem.clear()


def read_marcxml(spark, path: str, xml_fixing: bool = False):
    """DataFrame of MARC-in-JSON records from MARCXML file(s):
    (file, seq, marc_json)."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                for i, rec in enumerate(
                    parse_marcxml(_maybe_gunzip(row["path"] if "path" in row else "", bytes(row["content"])), xml_fixing)
                ):
                    out.append(
                        {
                            "file": row["path"],
                            "seq": i,
                            "marc_json": json.dumps(rec, ensure_ascii=False),
                        }
                    )
            yield pd.DataFrame(out, columns=["file", "seq", "marc_json"])

    return files.select("path", "content").mapInPandas(
        decode, schema="file string, seq long, marc_json string"
    )
