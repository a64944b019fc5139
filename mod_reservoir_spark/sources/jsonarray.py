"""Bulk JSON ingest source.

The reference accepts ``{"sourceId": S, "sourceVersion": V,
"records": [{localId, marcPayload|inventoryPayload|payload...}]}``
streamed without buffering (reference
util/.../readstream/LargeJsonReadStream.java:27-100; fixture
util/src/test/resources/records-in.json). The envelope's top-level
fields become job parameters; each array element becomes one record.

Spark shapes:
- envelope file(s): binaryFile → per-file json parse (envelopes are
  request-sized, not TB-sized — the reference streams them from HTTP
  uploads bounded by the 10 GB hosting guidance)
- JSONL (one record per line, sourceId passed explicitly): the
  100 TB-friendly layout — ``spark.read.json`` with schema, fully
  splittable.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from mod_reservoir_spark.functions.marc import is_delete, local_id
from mod_reservoir_spark.sources.iso2709 import _maybe_gunzip


def _record_payload(rec: dict) -> dict:
    payload = {}
    if "payload" in rec and isinstance(rec["payload"], dict):
        payload = dict(rec["payload"])
    if "marcPayload" in rec:
        payload["marc"] = rec["marcPayload"]
    if "inventoryPayload" in rec:
        payload["inventory"] = rec["inventoryPayload"]
    return payload


def _record_local_id(rec: dict, payload: dict) -> str | None:
    if rec.get("localId") is not None:
        s = str(rec["localId"]).strip()
        return s or None
    marc = payload.get("marc")
    return local_id(marc) if isinstance(marc, dict) else None


def parse_envelope(data: bytes | str) -> Iterator[dict]:
    """Yield ingest dicts {local_id, source_id, source_version,
    payload, delete} from one envelope document."""
    doc = json.loads(data)
    source_id = doc.get("sourceId")
    source_version = int(doc.get("sourceVersion") or 1)
    for rec in doc.get("records") or []:
        payload = _record_payload(rec)
        marc = payload.get("marc")
        yield {
            "local_id": _record_local_id(rec, payload),
            "source_id": source_id,
            "source_version": source_version,
            "payload": json.dumps(payload, ensure_ascii=False),
            "delete": bool(rec.get("delete"))
            or (isinstance(marc, dict) and is_delete(marc)),
        }


def read_json_envelopes(spark, path: str):
    """DataFrame of ingest records from envelope JSON file(s)."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                for ing in parse_envelope(_maybe_gunzip(row["path"] if "path" in row else "", bytes(row["content"]))):
                    if ing["local_id"]:
                        out.append(ing)
            yield pd.DataFrame(
                out,
                columns=[
                    "local_id", "source_id", "source_version",
                    "payload", "delete",
                ],
            )

    return files.select("content").mapInPandas(
        decode,
        schema=(
            "local_id string, source_id string, source_version int, "
            "payload string, delete boolean"
        ),
    )
