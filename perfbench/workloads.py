"""The benchmark's workloads, their output checks and their metrics.

Each workload gets a :class:`Run`: the Spark session, a work dir inside
the checkout and a :class:`spans.Tracer`. Timed operations go through
:meth:`Run.op`, which counts every attempt and every failure (nothing
is retried) and opens an ``op.<name>`` span around it.
Checks run outside the timed operations; a failed check makes the run
incorrect.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field
from datetime import datetime, timezone

import spans as sp
from docgen import make_docs
from marcgen import Corpus

POOLS = ("goldrush", "goldrush2021", "isbn")
CONFIGS = [
    {"id": "goldrush", "matcher": "goldrush::matchkey", "update": "ingest"},
    {"id": "goldrush2021", "matcher": "goldrush2021::matchkey", "update": "ingest"},
    {
        "id": "isbn",
        "method": "jsonpath",
        "params": {"expr": "$.marc.fields[*].020.subfields[*].a"},
        "update": "ingest",
    },
]
TABLES = ("global_records", "record_match_values", "cluster_assignments", "cluster_meta")
SOURCE = "SRC-A"
PRELOAD_RECORDS = 3000
PRELOAD_FILES = 4
BATCH_RECORDS = 100
OAI_PAGE = 50
CURATE_DOCS = 200
TIMED_FUNNELS = 5
# Spark cores per workload, at most nproc; the default is nproc. Curate's
# 200 docs are planning-bound: on 4 cores, over five seeds run in turn
# at both settings, local[2] gave the same median funnel as local[4]
# (4.70 vs 4.66 s) and half its run-to-run range (4.43-5.12 vs
# 4.29-5.95 s), since two task threads and their Python workers leave
# the driver and the JIT compiler cores of their own
CORES = {"curate": 2}
INPUT_REPEATS = 3
OAI_NS = "{http://www.openarchives.org/OAI/2.0/}"
BASE_SEED = 0
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def _p(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    return sorted(values)[max(0, math.ceil(q * len(values)) - 1)]


@dataclass
class Run:
    args: object
    workdir: str
    tracer: sp.Tracer
    spark: object = None
    setup_parts: dict = field(default_factory=dict)
    named: dict = field(default_factory=dict)  # name -> (value, unit)
    checks: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)
    samples: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    input_bytes: int = 0
    input_items: int = 0
    warehouse_bytes: int = 0
    probes: dict = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return self.failed == 0 and bool(self.checks) and all(self.checks.values())

    def op(self, name: str, fn, *args, **kwargs):
        """One timed operation: (ok, result, seconds)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tracer.span(f"op.{name}"):
                out = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - counted, reported, not retried
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
            return False, None, time.perf_counter() - t
        dt = time.perf_counter() - t
        self.samples.setdefault(name, []).append(dt)
        return True, out, dt

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok) and self.checks.get(name, True)

    def setup_done(self, input_s: list[float], prepare_s: float = 0.0) -> None:
        """Set-up = process and Spark start, input generation (median of
        its repeats) and preparing the program (preload or warm-up)."""
        self.setup_parts["input_s"] = statistics.median(input_s)
        self.setup_parts["prepare_s"] = prepare_s
        self.named["setup_s"] = (
            self.setup_parts["process_s"]
            + self.setup_parts["spark_start_s"]
            + self.setup_parts["input_s"]
            + prepare_s,
            "s",
        )


# -- tracing hooks -------------------------------------------------------


def install_spans(run: Run) -> None:
    """Wrap the public functions of each layer (trace runs only)."""
    tr = run.tracer
    if not tr.active:
        return
    import mod_reservoir_spark.core.storage as storage
    import mod_reservoir_spark.operators.clustering as clustering
    import mod_reservoir_spark.operators.clusters as clusters
    import mod_reservoir_spark.operators.matchkeys as matchkeys
    import mod_reservoir_spark.operators.oai as oai
    import mod_reservoir_spark.pipeline.curate as curate
    import mod_reservoir_spark.sources.upload as upload
    import mod_reservoir_spark.streaming.ingest as ingest

    cc_runs = run.probes.setdefault("cc_runs", [])

    def cc_done(_):
        # CC of the timed ops only, not of the checks' rebuild or probes
        if any(n in TIMED_OPS for n in tr.open_names()):
            cc_runs.append(dict(clustering.LAST_RUN_STATS))

    tr.wrap(upload, "upload_batch", "sources.upload_batch")
    tr.wrap(upload, "read_marc_upload", "sources.read_marc_upload")
    tr.wrap(ingest, "ingest_batch", "ingest.batch")
    tr.wrap(ingest, "recluster_pools", "ingest.recluster")
    tr.wrap(ingest, "changed_clusters", "ingest.changed")
    tr.wrap(ingest, "advance_meta", "ingest.advance_meta")
    tr.wrap(
        ingest, "affected_subgraph", "ingest.affected",
        on_return=lambda df: run.probes.__setitem__("affected", df),
    )
    tr.wrap_everywhere(storage.upsert_records, "storage.upsert")
    tr.wrap(
        storage.Warehouse, "write",
        lambda a, k: f"storage.write.{a[1] if len(a) > 1 else k['table']}",
    )
    tr.wrap_everywhere(matchkeys.extract_match_values, "matchkeys.extract")
    tr.wrap_everywhere(clustering.cluster_all_pools, "clustering.cluster_all_pools")
    tr.wrap_everywhere(
        clustering.connected_components, "clustering.cc",
        on_return=cc_done,
    )
    tr.wrap(clusters, "get_clusters", "clusters.get_clusters")
    tr.wrap(oai, "handle_oai_request", "oai.handle")
    tr.wrap(oai, "list_records", "oai.list_records")
    tr.wrap(oai, "render_list_records_xml", "oai.render")
    tr.wrap(curate, "curate", "curate.curate")
    for fn, name in (
        ("quality_filter", "curate.quality"),
        ("exact_duplicates", "curate.exact_dup"),
        ("near_dedup_keep", "curate.near_dup"),
        ("contamination", "curate.contamination"),
    ):
        tr.wrap(curate, fn, name)


# -- incremental ---------------------------------------------------------


def _oai_from(ts: float) -> str:
    return datetime.fromtimestamp(int(ts), timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _snapshot(wh) -> dict:
    """(global_id, pool) -> cluster_id of the committed warehouse."""
    return {
        (r[0], r[1]): r[2]
        for r in wh.read("cluster_assignments")
        .select("global_id", "match_key_config_id", "cluster_id")
        .collect()
    }


def _changed(old: dict, new: dict) -> dict[str, set]:
    """Per pool, the clusters whose member set differs between the
    snapshots: old and new cluster of every record that moved."""
    out: dict[str, set] = {p: set() for p in POOLS}
    for key in old.keys() | new.keys():
        o, n = old.get(key), new.get(key)
        if o != n:
            out[key[1]].update(c for c in (o, n) if c is not None)
    return out


def harvest(run: Run, wh, since: float) -> dict:
    """Incremental OAI harvest of every pool: ListRecords with
    ``from=`` the previous harvest, following resumption tokens. Each
    envelope must parse with ElementTree."""
    import mod_reservoir_spark.operators.oai as oai

    frames = [wh.read(t) for t in ("cluster_meta", "cluster_assignments",
                                   "global_records", "record_match_values")]
    got: dict[str, set] = {}
    for pool in POOLS:
        params = {"verb": "ListRecords", "metadataPrefix": "marcxml",
                  "set": pool, "from": _oai_from(since)}
        ids = got.setdefault(pool, set())
        while True:
            t = time.perf_counter()
            xml = oai.handle_oai_request(*frames, params, limit=OAI_PAGE,
                                         known_sets=list(POOLS))
            run.samples.setdefault("oai_page", []).append(time.perf_counter() - t)
            root = ET.fromstring(xml)
            err = root.find(f"{OAI_NS}error")
            if err is not None:
                if err.get("code") != "noRecordsMatch":
                    raise RuntimeError(f"OAI error {err.get('code')}: {err.text}")
                break
            for ident in root.iter(f"{OAI_NS}identifier"):
                ids.add(ident.text.removeprefix("oai:"))
            token = root.find(f"{OAI_NS}ListRecords/{OAI_NS}resumptionToken")
            if token is None or not token.text:
                break
            params = {"verb": "ListRecords", "resumptionToken": token.text}
    return got


def cql_reads(run: Run, wh, corpus: Corpus, batch) -> None:
    """CQL get_clusters reads of what the batch changed: each ISBN
    query must return exactly the bibs the generator links to it."""
    import mod_reservoir_spark.operators.clusters as clusters

    frames = [wh.read(t) for t in ("cluster_assignments", "global_records",
                                   "record_match_values")]
    meta = wh.read("cluster_meta")
    comps = {k: c for c in corpus.isbn_components() for k in c}
    isbns = [i for b in batch if not b.deleted for i in b.isbns][:1]
    for isbn in isbns:
        ok, res, _ = run.op(
            "cql", lambda q: clusters.get_clusters(
                *frames, "isbn", q, meta, limit=10, count="exact"
            ).items.collect(), f'matchValue = "{isbn}"',
        )
        if not ok:
            continue
        owner = next(b for b in corpus.live() if isbn in b.isbns)
        want = comps[(owner.source, owner.local_id)]
        got = [{(m["sourceId"], m["localId"]) for m in row["records"]} for row in res]
        run.check("cql_isbn_cluster", got == [set(want)])


def program_digest() -> str:
    """Digest of the program's and the benchmark's sources and the base
    corpus settings. It keys the cached base warehouse, and results are
    compared across runs only when their digests agree."""
    h = hashlib.sha256(
        repr((BASE_SEED, PRELOAD_RECORDS, PRELOAD_FILES, SOURCE, CONFIGS)).encode()
    )
    paths = []
    for top in (os.path.join(ROOT, "mod_reservoir_spark"), HERE):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if not x.startswith((".", "__"))]
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for path in sorted(paths):
        with open(path, "rb") as f:
            h.update(os.path.relpath(path, ROOT).encode() + f.read())
    return h.hexdigest()[:16]


def base_path() -> str:
    return os.path.join(WORK, "base", program_digest())


def build_base(spark, workdir: str) -> bool:
    """Build the base warehouse of ``incremental``: one ``upload_batch``
    of the base corpus (seed ``BASE_SEED``) into an empty warehouse,
    saved under ``.work/base/<digest>`` with its load time beside it.
    ``run.py`` runs this in a process of its own before a timed run
    needs it, so every timed run starts from a cold JVM."""
    import mod_reservoir_spark.sources.upload as upload
    from mod_reservoir_spark.core.storage import Warehouse

    cache = base_path()
    corpus = Corpus(BASE_SEED, sources=(SOURCE,))
    files = corpus.write_upload(
        corpus.initial(PRELOAD_RECORDS), os.path.join(workdir, "input"), PRELOAD_FILES
    )
    tmp = f"{cache}.{os.getpid()}"
    try:
        t = time.perf_counter()
        stats = upload.upload_batch(
            spark, Warehouse(spark, tmp), files["sources"][SOURCE][0], SOURCE, CONFIGS
        )
        load_s = time.perf_counter() - t
        if stats["inserted"] != PRELOAD_RECORDS:
            print(f"perfbench: base load inserted {stats['inserted']} of "
                  f"{PRELOAD_RECORDS} records", file=sys.stderr)
            return False
        with open(f"{cache}.json", "w") as f:
            json.dump({"load_s": load_s, "records": PRELOAD_RECORDS}, f)
        os.replace(tmp, cache)
        return True
    finally:
        shutil.rmtree(tmp, ignore_errors=True)  # a failed or stopped build


def base_warehouse(run: Run):
    """A copy of the base warehouse in the run's work dir, and the base
    corpus, whose later batches draw from the run's seed."""
    from mod_reservoir_spark.core.storage import Warehouse

    gen_s = []
    for rep in range(INPUT_REPEATS):
        t = time.perf_counter()
        corpus = Corpus(BASE_SEED, sources=(SOURCE,))
        bibs = corpus.initial(PRELOAD_RECORDS)
        files = corpus.write_upload(
            bibs, os.path.join(run.workdir, f"input{rep}"), PRELOAD_FILES
        )
        gen_s.append(time.perf_counter() - t)
    corpus.rng = random.Random(run.args.seed)
    run.input_bytes = files["bytes"]
    run.input_items = PRELOAD_RECORDS
    run.probes["preload_bytes"] = files["bytes"]

    t = time.perf_counter()
    cache = base_path()
    with open(f"{cache}.json") as f:
        load = json.load(f)
    run.named["load_records_per_s"] = (load["records"] / load["load_s"], "rec/s")
    root = os.path.join(run.workdir, "wh")
    shutil.copytree(cache, root)
    run.setup_done(gen_s, time.perf_counter() - t)
    return Warehouse(run.spark, root), corpus


def incremental(run: Run) -> None:
    import mod_reservoir_spark.sources.upload as upload

    spark, args = run.spark, run.args
    install_spans(run)

    wh, corpus = base_warehouse(run)
    first_batch = None
    deadline = time.perf_counter() + args.seconds
    last_harvest = time.time()
    batch_records = 0
    k = 0
    while True:
        batch = corpus.update_batch(BATCH_RECORDS)
        bfiles = corpus.write_upload(
            batch, os.path.join(run.workdir, f"batch{k}"), 2
        )
        run.input_bytes += bfiles["bytes"]
        first_batch = first_batch or bfiles["sources"][SOURCE][0]
        old = _snapshot(wh)
        t0 = time.perf_counter()
        ok, stats, batch_s = run.op(
            "batch", upload.upload_batch, spark, wh,
            bfiles["sources"][SOURCE][0], SOURCE, CONFIGS,
        )
        if not ok:
            break
        tombstones = sum(b.deleted for b in batch)
        run.check(
            "batch_stats",
            stats["processed"] == len(batch) and stats["deleted"] == tombstones,
        )
        harvest_start = time.time()
        ok, got, _ = run.op("harvest", harvest, run, wh, last_harvest)
        fresh_s = time.perf_counter() - t0
        run.check("oai_envelopes_parse", ok)
        if not ok:
            break
        last_harvest = harvest_start
        batch_records += len(batch)
        run.samples.setdefault("freshness", []).append(fresh_s)
        new = _snapshot(wh)
        changed = _changed(old, new)
        run.check(
            "harvest_has_changed_clusters",
            all(changed[p] <= got[p] for p in POOLS)
            and any(changed.values()),
        )
        if run.tracer.active:
            _probe_batch(run, wh, bfiles["sources"][SOURCE][0], batch, old, new)
        cql_reads(run, wh, corpus, batch)
        k += 1
        if time.perf_counter() >= deadline:
            break
    run.named["batch_records"] = (batch_records, "rec")
    if run.failed:
        return  # incorrect: the checks below need every batch committed
    run.setup_parts["timed_end_s"] = time.perf_counter()

    # output checks
    records = {
        r[0]: (r[1], r[2])
        for r in wh.read("global_records")
        .select("global_id", "source_id", "local_id").collect()
    }
    final = new
    isbn_clusters: dict = {}
    for (gid, pool), cid in final.items():
        if pool == "isbn":
            isbn_clusters.setdefault(cid, set()).add(records[gid])
    run.check(
        "isbn_clusters_match_union_find",
        {frozenset(c) for c in isbn_clusters.values()} == corpus.isbn_components(),
    )
    run.warehouse_bytes = _dir_bytes(wh.root)
    run.named["storage_bytes_per_input_byte"] = (
        run.warehouse_bytes / run.input_bytes, "ratio",
    )
    run.setup_parts["checks_s"] = time.perf_counter() - run.setup_parts.pop("timed_end_s")
    rebuilt = _rebuild_copy(run, wh)
    run.check("incremental_equals_rebuild", rebuilt == final)
    run.setup_parts["rebuild_s"] = run.probes["full_rebuild_s"]
    if run.tracer.active:
        _warm_batch(run, first_batch)
    run.named["batch_s_p50"] = (_med(run.samples.get("batch")), "s")
    run.named["batch_samples"] = (len(run.samples.get("batch", [])), "count")
    run.named["freshness_s_p50"] = (_med(run.samples.get("freshness")), "s")
    _latency_named(run)


def _rebuild_copy(run: Run, wh) -> dict:
    """Full rebuild of every pool on a copy of the warehouse — the
    ``initialize_pool`` path (``recluster_pools`` without batch ids),
    all pools in one call; returns its assignments and times it."""
    from mod_reservoir_spark.core.storage import Warehouse
    from mod_reservoir_spark.streaming.ingest import recluster_pools

    root = os.path.join(run.workdir, "rebuild")
    shutil.copytree(wh.root, root)
    copy = Warehouse(run.spark, root)
    t = time.perf_counter()
    recluster_pools(copy, copy.read("global_records"), CONFIGS)
    run.probes["full_rebuild_s"] = time.perf_counter() - t
    return _snapshot(copy)


def _warm_batch(run: Run, batch_dir: str) -> None:
    """Trace-only: the run's first batch once more, on a fresh copy of
    the base warehouse, after the rebuild. The JVM is warm by then, as
    it is for the rebuild, so the two times compare like with like."""
    import mod_reservoir_spark.sources.upload as upload
    from mod_reservoir_spark.core.storage import Warehouse

    root = os.path.join(run.workdir, "warm")
    shutil.copytree(base_path(), root)
    t = time.perf_counter()
    with run.tracer.span("probe.warm_batch"):
        upload.upload_batch(run.spark, Warehouse(run.spark, root), batch_dir,
                            SOURCE, CONFIGS)
    run.probes["warm_batch_s"] = time.perf_counter() - t


def _probe_batch(run: Run, wh, batch_dir: str, batch, old: dict, new: dict) -> None:
    """Trace-only measurements next to a batch: the affected subgraph
    against the records whose cluster changed, and the decode and
    match-key layers run alone over the batch's input."""
    import mod_reservoir_spark.sources.upload as upload
    from mod_reservoir_spark.operators.matchkeys import extract_match_values
    from pyspark.sql import functions as F

    aff = run.probes.pop("affected", None)
    if aff is not None:
        rows = aff.select("global_id", "match_key_config_id").collect()
        moved = sum(1 for r in rows if old.get((r[0], r[1])) != new.get((r[0], r[1])))
        run.probes.setdefault("affected_records", []).append(len(rows))
        run.probes.setdefault("affected_moved", []).append(moved)
    with run.tracer.span("probe.decode"):
        n = upload.read_marc_upload(run.spark, batch_dir).count()
    run.probes["decode_records"] = run.probes.get("decode_records", 0) + n
    ids = [b.local_id for b in batch if not b.deleted]
    recs = wh.read("global_records").filter(F.col("local_id").isin(ids)).persist()
    recs.count()
    with run.tracer.span("probe.matchkeys"):
        extract_match_values(recs, CONFIGS).count()
    recs.unpersist()


def _latency_named(run: Run) -> None:
    for key in ("cql", "oai_page"):
        vals = run.samples.get(key) or [0.0]
        name = key.removesuffix("_page")
        run.named[f"{name}_page_s_p50"] = (_p(vals, 0.5), "s")
        run.named[f"{name}_page_s_p90"] = (_p(vals, 0.9), "s")
        run.named[f"{name}_page_samples"] = (len(run.samples.get(key, [])), "count")


# -- curate --------------------------------------------------------------


def curate(run: Run) -> None:
    import mod_reservoir_spark.pipeline.curate as cur
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    spark, args = run.spark, run.args
    install_spans(run)
    gen_s = []
    for rep in range(INPUT_REPEATS):
        t = time.perf_counter()
        docs = make_docs(args.seed, CURATE_DOCS)
        path = os.path.join(run.workdir, f"docs{rep}.parquet")
        ids, texts = zip(*docs.rows)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": list(texts)}),
            path,
        )
        gen_s.append(time.perf_counter() - t)
    run.input_bytes = docs.text_bytes
    run.input_items = CURATE_DOCS
    corpus = spark.read.parquet(path)
    bench = corpus.filter(F.col("doc_id") % 97 == 0)

    def funnel():
        ledger = cur.curate(
            corpus, benchmark=bench,
            near_kwargs=dict(num_hashes=16, bands=4, shingle_n=2,
                             threshold_ppm=300000),
        )
        ledger.write.format("noop").mode("overwrite").save()
        return ledger

    def histogram(ledger) -> dict:
        return {r["stage"]: r["n"] for r in cur.curation_funnel(ledger).collect()}

    # the first funnel in a process compiles its plans and takes about
    # three times a warm one: it is set-up, and its counts are checked too
    t = time.perf_counter()
    ok, ledger, _ = run.op("warmup", funnel)
    run.setup_done(gen_s, time.perf_counter() - t)
    if not ok:
        return
    histograms = [histogram(ledger)]
    # the median of the funnels timed over the window is reported, and
    # at least TIMED_FUNNELS of them, so that a slow run times as many
    # funnels as a fast one: the run's peak RSS grows with every funnel
    deadline = time.perf_counter() + args.seconds
    while True:
        t0 = time.perf_counter()
        ok, ledger, _ = run.op("curate", funnel)
        if not ok:
            return
        histograms.append(histogram(ledger))
        run.samples.setdefault("visible", []).append(time.perf_counter() - t0)
        if (len(run.samples["curate"]) >= TIMED_FUNNELS
                and time.perf_counter() >= deadline):
            break
    run.check("funnel_deterministic", all(h == histograms[0] for h in histograms))
    # and across runs: an earlier result of this seed and program
    for trace in (0, 1):
        earlier = earlier_result(f"curate-s{args.seed}-t{trace}.json")
        if earlier:
            named = earlier["named"]
            run.check("funnel_same_as_earlier_runs", histograms[0] == {
                k.removeprefix("funnel."): v[0]
                for k, v in named.items() if k.startswith("funnel.")
            })
    run.probes["funnel"] = histograms[0]
    stages = {
        r["doc_id"]: r["drop_stage"]
        for r in ledger.select("doc_id", "drop_stage").collect()
    }
    run.check("ledger_one_row_per_doc", sorted(stages) == list(range(CURATE_DOCS)))
    run.check(
        "exact_copies_dropped",
        all(stages[c] in ("quality", "exact_dup") for c in docs.exact_copies),
    )
    run.check(
        "benchmark_slice_dropped",
        all(stages[d] is not None for d in stages if d % 97 == 0),
    )
    near = [c for c, o in docs.near_copies.items()
            if stages[c] != "quality" and stages[o] is None]
    recall = sum(stages[c] == "near_dup" for c in near) / max(1, len(near))
    run.check("near_copies_found", recall >= 0.5)
    run.named["near_dup_recall"] = (recall, "ratio")
    run.named["curate_docs_per_s"] = (CURATE_DOCS / _med(run.samples["curate"]), "docs/s")
    run.named["curate_s_p50"] = (_med(run.samples["curate"]), "s")
    run.named["curate_samples"] = (len(run.samples["curate"]), "count")
    for stage, n in sorted(histograms[0].items()):
        run.named[f"funnel.{stage}"] = (n, "docs")


WORKLOADS = {"incremental": incremental, "curate": curate}
# workloads that copy the base warehouse, which run.py builds first
NEEDS_BASE = {"incremental"}
# the workload's timed operation and the step after which its result
# is visible to a reader
_OP = {
    "incremental": ("batch", "freshness"),
    "curate": ("curate", "visible"),
}


def earlier_result(name: str) -> dict | None:
    """The full result ``name`` of an earlier run in this checkout, if
    it was made with the same program and benchmark sources."""
    path = os.path.join(WORK, "results", name)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        res = json.load(f)
    return res if res["env"].get("program") == program_digest() else None


# spans of the timed operations, whose subtrees the per-layer metrics cover
TIMED_OPS = {"op.batch", "op.harvest", "op.cql", "op.curate"}


def _med(values) -> float:
    return statistics.median(values) if values else 0.0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


# -- metrics -------------------------------------------------------------


def end_to_end(run: Run) -> dict:
    op, visible = _OP[run.args.workload]
    ops = run.samples.get(op, [])
    return {
        "setup_s": (run.named["setup_s"][0], "s"),
        "op_s_p50": (_med(ops), "s"),
        "visible_s_p50": (_med(run.samples.get(visible)), "s"),
        "peak_rss_mb": run.named["peak_rss_mb"],
    }


LAYER_SPANS = {
    "ingest.batch": "ingest.batch",
    "ingest.recluster": "ingest.recluster",
    "storage.upsert": "storage.upsert",
    "clustering.cc": "clustering.cc",
    "clusters.get_clusters": "clusters.get_clusters",
    "oai.list_records": "oai.list_records",
    "curate": "op.curate",
}


def per_layer(run: Run, jobs: list[dict]) -> dict:
    """Per-layer metrics of the timed operations of a traced run."""
    tr = run.tracer
    op, _ = _OP[run.args.workload]
    timed = [i for i, s in enumerate(tr.spans) if s.name in TIMED_OPS]
    within = sorted({j for i in timed for j in sp.subtree(tr, i)})
    m: dict = {}

    def stats(name):
        return sp.span_stats(tr, sp.by_name(tr, name, within))

    allst = sp.span_stats(tr, timed)
    m["spark.jobs"] = (allst["jobs"], "count")
    m["spark.task_s"] = (allst["task_s"], "s")
    m["spark.shuffle_bytes"] = (allst["shuffle_bytes"], "bytes")
    m["spark.planning_gap_s"] = (allst["planning_gap_s"], "s")
    m["traced.op_s_p50"] = (_med(run.samples.get(op)), "s")

    for key, name in LAYER_SPANS.items():
        st = stats(name)
        m[f"{key}.s"] = (st["s"], "s")
        m[f"{key}.jobs"] = (st["jobs"], "count")
    batch = stats("ingest.batch")
    m["ingest.batch.planning_gap_s"] = (batch["planning_gap_s"], "s")
    m["ingest.batch.self_s"] = (batch["self_s"], "s")
    aff = sum(run.probes.get("affected_records", []))
    m["ingest.affected.records"] = (aff, "count")
    m["ingest.affected.useful_ratio"] = (
        sum(run.probes.get("affected_moved", [])) / aff if aff else 0.0, "ratio",
    )
    # a warm batch over a warm full rebuild: the traced batch itself is
    # the first in its JVM and would carry the JVM's warm-up
    full, warm = run.probes.get("full_rebuild_s"), run.probes.get("warm_batch_s")
    m["ingest.incr_full_ratio"] = (warm / full if full and warm else 0.0, "ratio")
    if full and warm:
        run.named["full_rebuild_s"] = (full, "s")
        run.named["warm_batch_s"] = (warm, "s")
    written = 0
    for t in TABLES:
        st = stats(f"storage.write.{t}")
        m[f"storage.write.{t}.s"] = (st["s"], "s")
        m[f"storage.write.{t}.jobs"] = (st["jobs"], "count")
        m[f"storage.write.{t}.bytes"] = (st["output_bytes"], "bytes")
        written += st["output_bytes"]
    batch_bytes = run.input_bytes - (run.probes.get("preload_bytes") or 0)
    m["storage.write_amp"] = (
        written / batch_bytes if batch["jobs"] and batch_bytes else 0.0, "ratio",
    )
    cc = [r for r in run.probes.get("cc_runs", [])]
    m["clustering.cc.edges"] = (sum(r.get("edges", 0) for r in cc), "count")
    m["clustering.cc.iterations"] = (sum(r.get("iterations", 0) for r in cc), "count")
    m["clustering.cc.iterative_runs"] = (
        sum(1 for r in cc if r.get("iterations")), "count",
    )
    m["oai.render.s"] = (stats("oai.render")["s"], "s")
    allspans = range(len(tr.spans))
    dec = sp.span_stats(tr, sp.by_name(tr, "probe.decode", allspans))
    mk = sp.span_stats(tr, sp.by_name(tr, "probe.matchkeys", allspans))
    m["sources.decode.task_s"] = (dec["task_s"], "s")
    m["sources.decode.records"] = (run.probes.get("decode_records", 0), "count")
    m["matchkeys.udf.task_s"] = (mk["task_s"], "s")
    cst = stats("op.curate")
    m["curate.task_s"] = (cst["task_s"], "s")
    m["curate.shuffle_bytes"] = (cst["shuffle_bytes"], "bytes")
    funnel = run.probes.get("funnel", {})
    left = run.input_items if funnel else 0
    for stage in ("quality", "exact_dup", "near_dup", "contaminated"):
        left -= funnel.get(stage, 0)
        m[f"curate.stage_out.{stage}"] = (left, "docs")

    # the batch's wall time, layer by layer: self time of each span
    # name plus the time in which no Spark job ran
    run.layers = {
        "batch_self_s": {},
        "batch_wall_s": batch["s"],
        "batch_planning_gap_s": batch["planning_gap_s"],
    }
    for i in sp.by_name(tr, "ingest.batch", within):
        for name, s in sp.self_breakdown(tr, i).items():
            run.layers["batch_self_s"][name] = run.layers["batch_self_s"].get(name, 0.0) + s
    run.layers["spans"] = {
        name: sp.span_stats(tr, sp.by_name(tr, name, within))
        for name in sorted({tr.spans[i].name for i in within})
    }
    return m
