"""Seeded MARC corpus generator for the benchmark.

Builds bibliographic records as MARC-in-JSON from a small seeded
vocabulary (the shape of the sf0.1 ``part`` names and ``customer``
names: short adjective/noun titles and numbered people), then writes
them as ISO2709 (leader, directory, 0x1E field and 0x1D record
terminators) or MARCXML (via ``functions.xmlutil.json_to_marcxml``).

The corpus controls what the match-key pools see:

- ``dup_share`` of the records copy an existing work (same title,
  author, year, pages, publisher), so the goldrush pools cluster them;
- every work owns one or two ISBNs; a copy keeps them with
  ``isbn_keep`` probability, and ``isbn_bridge`` of the records also
  carry an ISBN of another work, so ISBN clusters span several works;
- ``holdings_share`` of the bibs are followed by a 004 holdings record,
  which the upload path folds into the bib's payload.

Update batches (:meth:`Corpus.update_batch`) mix title changes, ISBN
changes (merges and splits), new records sharing existing ISBNs and
tombstones (leader[5] = 'd'). The :class:`Corpus` keeps the live state
so checks can compute the expected ISBN clusters with a union-find.

Run ``python3 perfbench/marcgen.py`` for the round-trip self-test.
"""

from __future__ import annotations

import os
import random
import sys
from dataclasses import dataclass, field

ADJECTIVES = (
    "large small antique burnished chocolate cornflower dark deep dim "
    "drab firebrick floral forest frosted ghost honeydew hot indian "
    "khaki lace lavender lemon light linen magenta maroon medium metallic "
    "midnight mint misty moccasin navy olive orange orchid pale papaya "
    "peach peru pink plum powder puff purple red rose rosy royal saddle "
    "salmon sandy seashell sienna sky slate smoke snow spring steel tan "
    "thistle tomato turquoise violet wheat white yellow"
).split()
NOUNS = (
    "ring bolt gear anvil brush plate spring lamp chain valve hinge "
    "sprocket lever pulley wrench spindle bearing gasket rivet socket "
    "clamp cable nozzle piston rotor shaft spool washer bracket flange "
    "coupling filter gauge handle knob latch mirror needle panel pipe "
    "rail screen sensor switch tank tube wheel wire"
).split()
PLACES = "Boston Chicago Denver London Paris Oslo Lima Tokyo Rome Cairo".split()
PUBLISHERS = (
    "Acme Press|Brand Books|Harbor House|Northwind|Meridian|Castle Hill|"
    "Blue Fern|Ironwood|Lakeside|Quarry Lane"
).split("|")

SOURCES = ("SRC-A", "SRC-B")
FIELD_TERM = b"\x1e"
RECORD_TERM = b"\x1d"
SUBFIELD_DELIM = b"\x1f"


def encode_iso2709(marc: dict) -> bytes:
    """One MARC-in-JSON record → ISO2709 bytes (UTF-8, leader[9]='a').
    Record length and base address in the leader are recomputed."""
    body = b""
    directory = b""
    for f in marc["fields"]:
        ((tag, value),) = f.items()
        if isinstance(value, str):
            data = value.encode()
        else:
            data = (value["ind1"] + value["ind2"]).encode()
            for sf in value["subfields"]:
                ((code, text),) = sf.items()
                data += SUBFIELD_DELIM + code.encode() + text.encode()
        data += FIELD_TERM
        directory += f"{tag}{len(data):04d}{len(body):05d}".encode()
        body += data
    directory += FIELD_TERM
    base = 24 + len(directory)
    total = base + len(body) + 1
    lead = marc["leader"]
    leader = f"{total:05d}{lead[5:9]}a22{base:05d}{lead[17:]}".encode()
    if len(leader) != 24:
        raise ValueError(f"bad leader {leader!r}")
    return leader + directory + body + RECORD_TERM


def with_iso_leader(marc: dict) -> dict:
    """The record as ISO2709 decoding returns it: leader carries the
    encoded length and base address."""
    raw = encode_iso2709(marc)
    return {"leader": raw[:24].decode("ascii"), "fields": marc["fields"]}


def marcxml_collection(records: list[dict]) -> bytes:
    from mod_reservoir_spark.functions.xmlutil import json_to_marcxml

    parts = ['<?xml version="1.0" encoding="UTF-8"?>\n<collection>\n']
    parts.extend(json_to_marcxml(r) + "\n" for r in records)
    parts.append("</collection>\n")
    return "".join(parts).encode()


def _df(tag: str, subfields: list[tuple[str, str]], i1=" ", i2=" ") -> dict:
    return {
        tag: {
            "ind1": i1,
            "ind2": i2,
            "subfields": [{c: v} for c, v in subfields],
        }
    }


@dataclass
class Bib:
    source: str
    local_id: str
    work: int
    title: str
    isbns: list[str]
    holdings: int = 0
    deleted: bool = False


@dataclass
class Work:
    title: str
    author: str
    year: int
    pages: int
    publisher: str
    place: str
    isbns: list[str]


def _isbn(rng: random.Random) -> str:
    return "978" + "".join(str(rng.randrange(10)) for _ in range(10))


@dataclass
class Corpus:
    """Seeded corpus state: works, live bibs per (source, local_id)."""

    seed: int
    dup_share: float = 0.35
    isbn_keep: float = 0.8
    isbn_bridge: float = 0.04
    holdings_share: float = 0.03
    sources: tuple[str, ...] = SOURCES
    works: list[Work] = field(default_factory=list)
    bibs: dict = field(default_factory=dict)
    _next_id: int = 0

    def __post_init__(self):
        self.rng = random.Random(self.seed)

    # -- record model --------------------------------------------------

    def _new_work(self) -> int:
        r = self.rng
        w = Work(
            title=" ".join(r.choice(ADJECTIVES) for _ in range(r.randint(2, 3)))
            + " "
            + r.choice(NOUNS),
            author=f"Customer#{r.randrange(15000):09d}",
            year=r.randint(1950, 2024),
            pages=r.randint(40, 900),
            publisher=r.choice(PUBLISHERS),
            place=r.choice(PLACES),
            isbns=[_isbn(r) for _ in range(r.randint(1, 2))],
        )
        self.works.append(w)
        return len(self.works) - 1

    def _new_bib(self, source: str | None = None, work: int | None = None) -> Bib:
        r = self.rng
        if work is None:
            if self.works and r.random() < self.dup_share:
                work = r.randrange(len(self.works))
            else:
                work = self._new_work()
        w = self.works[work]
        isbns = list(w.isbns) if r.random() < self.isbn_keep else []
        if self.works and r.random() < self.isbn_bridge:
            isbns.append(r.choice(self.works[r.randrange(len(self.works))].isbns))
        self._next_id += 1
        b = Bib(
            source=source or r.choice(self.sources),
            local_id=f"b{self._next_id:08d}",
            work=work,
            title=w.title,
            isbns=isbns,
            holdings=1 if r.random() < self.holdings_share else 0,
        )
        self.bibs[(b.source, b.local_id)] = b
        return b

    def marc(self, b: Bib) -> list[dict]:
        """The bib (plus its holdings) as MARC-in-JSON records."""
        if b.deleted:
            return [
                {
                    "leader": "00000dam a2200000   4500",
                    "fields": [{"001": b.local_id}],
                }
            ]
        w = self.works[b.work]
        fields = [
            {"001": b.local_id},
            {"008": f"000101s{w.year}    xxu           000 0 eng d"},
        ]
        fields += [_df("020", [("a", i)]) for i in b.isbns]
        fields += [
            _df("100", [("a", w.author)], "1"),
            _df("245", [("a", b.title), ("c", w.author)], "1", "0"),
            _df("260", [("a", w.place), ("b", w.publisher), ("c", str(w.year))]),
            _df("300", [("a", f"{w.pages} p.")]),
        ]
        out = [{"leader": "00000cam a2200000   4500", "fields": fields}]
        for h in range(b.holdings):
            out.append(
                {
                    "leader": "00000cx  a2200000   4500",
                    "fields": [
                        {"001": f"h{b.local_id}-{h}"},
                        {"004": b.local_id},
                        _df("852", [("b", "MAIN"), ("h", f"QA{b.work % 997}")]),
                    ],
                }
            )
        return out

    # -- batches -------------------------------------------------------

    def initial(self, n: int) -> list[Bib]:
        return [self._new_bib() for _ in range(n)]

    def update_batch(self, n: int) -> list[Bib]:
        """A batch of ``n`` bibs: title changes, ISBN changes (merges
        and splits), new bibs sharing existing ISBNs, and tombstones.
        Every bib appears at most once per batch."""
        r = self.rng
        live = [k for k, b in self.bibs.items() if not b.deleted]
        picked = r.sample(live, min(len(live), n * 3 // 4))
        out: list[Bib] = []
        for key in picked:
            b = self.bibs[key]
            roll = r.random()
            if roll < 0.3:
                # retitle: moves the bib between goldrush clusters
                b.title = self.works[r.randrange(len(self.works))].title
            elif roll < 0.55:
                # ISBN merge: adopt another work's ISBN
                b.isbns = b.isbns + [r.choice(self.works[r.randrange(len(self.works))].isbns)]
            elif roll < 0.8:
                # ISBN split: drop shared ISBNs for a fresh one
                b.isbns = [_isbn(r)]
            else:
                b.deleted = True
            out.append(b)
        while len(out) < n:
            # new bib of an existing work: shares its ISBNs
            b = self._new_bib(work=r.randrange(len(self.works)))
            b.isbns = list(self.works[b.work].isbns)
            out.append(b)
        return out

    # -- files ---------------------------------------------------------

    def write_upload(self, bibs: list[Bib], root: str, n_files: int) -> dict:
        """Write ``bibs`` under ``root/<source>/`` as ``n_files`` files
        per source, alternating ISO2709 (.mrc) and MARCXML (.xml).
        Returns {source: (dir, bib count)} and the bytes written."""
        out = {}
        total = 0
        for source in self.sources:
            mine = [b for b in bibs if b.source == source]
            if not mine:
                continue
            d = os.path.join(root, source)
            os.makedirs(d, exist_ok=True)
            for i in range(n_files):
                chunk = mine[i::n_files]
                if not chunk:
                    continue
                recs = [m for b in chunk for m in self.marc(b)]
                if i % 2 == 0:
                    data = b"".join(encode_iso2709(m) for m in recs)
                    name = f"part{i:03d}.mrc"
                else:
                    data = marcxml_collection(recs)
                    name = f"part{i:03d}.xml"
                with open(os.path.join(d, name), "wb") as f:
                    f.write(data)
                total += len(data)
            out[source] = (d, len(mine))
        return {"sources": out, "bytes": total}

    # -- expected results ----------------------------------------------

    def live(self) -> list[Bib]:
        return [b for b in self.bibs.values() if not b.deleted]

    def isbn_components(self) -> set[frozenset]:
        """Expected ISBN-pool clusters of the live bibs, as sets of
        (source, local_id): union-find over shared ISBNs; bibs without
        an ISBN are singletons."""
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        owner: dict = {}
        for b in self.live():
            k = (b.source, b.local_id)
            parent.setdefault(k, k)
            for i in b.isbns:
                o = owner.setdefault(i, k)
                ra, rb = find(o), find(k)
                if ra != rb:
                    parent[rb] = ra
        groups: dict = {}
        for k in parent:
            groups.setdefault(find(k), set()).add(k)
        return {frozenset(g) for g in groups.values()}


def self_test(seed: int = 7, n: int = 300) -> None:
    """Both formats round-trip through the repo's parsers to the same
    MARC-in-JSON; raises AssertionError-free ValueError on mismatch."""
    from mod_reservoir_spark.sources.iso2709 import parse_iso2709
    from mod_reservoir_spark.sources.marcxml import parse_marcxml

    c = Corpus(seed)
    bibs = c.initial(n) + c.update_batch(n // 5)
    recs = [m for b in bibs for m in c.marc(b)]
    expected = [with_iso_leader(m) for m in recs]
    iso = list(parse_iso2709(b"".join(encode_iso2709(m) for m in recs)))
    xml = list(parse_marcxml(marcxml_collection(expected)))
    if iso != expected:
        raise ValueError("ISO2709 round trip differs from the generated records")
    if xml != expected:
        raise ValueError("MARCXML round trip differs from the generated records")
    if not any(b.holdings for b in bibs) or not any(b.deleted for b in bibs):
        raise ValueError("corpus lacks holdings or tombstones")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    self_test()
    print("marcgen self-test passed")
