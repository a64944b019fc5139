"""Mixed-format upload batch (reference multipart upload,
UploadService.java:59-128): per-file format dispatch inside the
distributed decode task."""

import gzip
import json

from mod_reservoir_spark.functions.xmlutil import json_to_marcxml
from mod_reservoir_spark.sources.iso2709 import parse_iso2709
from mod_reservoir_spark.sources.upload import read_marc_upload, upload_batch
from tests.marc_helpers import build_iso2709


def _collection(records):
    """MARCXML collection document over MARC-in-JSON records."""
    body = "\n".join(json_to_marcxml(r) for r in records)
    return f"<collection>\n{body}\n</collection>\n".encode()


def _mixed_dir(tmp_path):
    """Upload dir of three files: ISO2709 records, the SAME records as
    gzipped MARCXML (shared 001s for the natural-key upsert), and a
    separate MARCXML file; plus uncompressed copies outside the dir
    for the direct readers."""
    iso = b"".join(
        build_iso2709(
            [
                ("001", f"iso{i}".encode()),
                ("245", f"10\x1faTitle {i}\x1fcAuthor {i}".encode()),
            ]
        )
        for i in range(3)
    )
    other = [
        {
            "leader": "00000nam a2200000 a 4500",
            "fields": [
                {"001": f"xml{i}"},
                {
                    "245": {
                        "ind1": "1",
                        "ind2": "0",
                        "subfields": [{"a": f"Other title {i}"}],
                    }
                },
            ],
        }
        for i in range(2)
    ]
    ref = tmp_path / "direct"
    ref.mkdir()
    (ref / "marc3.marc").write_bytes(iso)
    (ref / "marc3.xml").write_bytes(_collection(list(parse_iso2709(iso))))
    (ref / "record10.xml").write_bytes(_collection(other))
    d = tmp_path / "upload"
    d.mkdir()
    (d / "part1.marc").write_bytes(iso)
    (d / "part2.xml").write_bytes((ref / "record10.xml").read_bytes())
    (d / "part3.xml.gz").write_bytes(
        gzip.compress((ref / "marc3.xml").read_bytes())
    )
    return d, ref


def test_read_marc_upload_dispatches_per_file(spark, tmp_path):
    from mod_reservoir_spark.sources.iso2709 import read_iso2709
    from mod_reservoir_spark.sources.marcxml import read_marcxml

    d, ref = _mixed_dir(tmp_path)
    got = read_marc_upload(spark, str(d)).collect()
    by_file = {}
    for r in got:
        by_file.setdefault(r.file.rsplit("/", 1)[-1], []).append(r)
    n_marc = read_iso2709(spark, str(ref / "marc3.marc")).count()
    n_xml = read_marcxml(spark, str(ref / "record10.xml")).count()
    n_gz = read_marcxml(spark, str(ref / "marc3.xml")).count()
    assert (n_marc, n_xml, n_gz) == (3, 2, 3)
    assert len(by_file["part1.marc"]) == n_marc
    assert len(by_file["part2.xml"]) == n_xml
    assert len(by_file["part3.xml.gz"]) == n_gz  # gzip + sniff
    # records are real MARC-in-JSON
    marc = json.loads(by_file["part2.xml"][0].marc_json)
    assert "fields" in marc and "leader" in marc


def test_upload_batch_end_to_end(spark, warehouse, tmp_path):
    d, _ = _mixed_dir(tmp_path)
    cfg = {
        "id": "f001",
        "method": "jsonpath",
        "params": json.dumps({"expr": "$.marc.fields[*].001"}),
        "update": "ingest",
    }
    stats = upload_batch(spark, warehouse, str(d), "UP", [cfg])
    ingested = read_marc_upload(spark, str(d)).collect()
    distinct_ids = {
        json.loads(r.marc_json)
        .get("fields", [{}])[0]
        .get("001")
        for r in ingested
    } - {None}
    assert (len(ingested), len(distinct_ids)) == (8, 5)
    assert stats["processed"] == len(ingested)
    # part1.marc and part3.xml.gz carry the same 001s — the natural-key
    # upsert stores one row per (local_id, source, version)
    recs = warehouse.read("global_records")
    assert recs.filter("source_id = 'UP'").count() == len(distinct_ids)
