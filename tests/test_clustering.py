"""Clustering semantics pinned by the reference's integration tests
(FIXTURES.md §F3; reference MainVerticleTest.java scenarios)."""

import json

import pytest
from pyspark.sql import functions as F

from mod_reservoir_spark.operators.clustering import (
    cluster_all_pools,
    connected_components,
    truncate_match_values,
)
from mod_reservoir_spark.operators.clusters import (
    build_clusters,
    get_clusters,
    latest_version_per_source,
    matchkey_stats,
)
from mod_reservoir_spark.operators.matchkeys import extract_match_values
from mod_reservoir_spark.streaming.ingest import ingest_batch

ISSN_CFG = {
    "id": "issn",
    "method": "jsonpath",
    "params": json.dumps({"expr": "$.inventory.issn[*]"}),
    "update": "ingest",
}
ISBN_CFG = {
    "id": "isbn",
    "method": "jsonpath",
    "params": json.dumps({"expr": "$.inventory.isbn[*]"}),
    "update": "ingest",
}


def payload(issn=None, isbn=None):
    return json.dumps(
        {
            "marc": {"leader": "00914naa  2200337   450 "},
            "inventory": {
                **({"issn": issn} if issn else {}),
                **({"isbn": isbn} if isbn else {}),
            },
        }
    )


def records_df(spark, rows):
    """rows: (local_id, source_id, version, payload_json)"""
    df = spark.createDataFrame(
        rows, "local_id string, source_id string, source_version int, payload string"
    )
    return df.withColumn(
        "global_id", F.md5(F.concat_ws("", "local_id", "source_id", "source_version"))
    ).withColumn("updated_at", F.current_timestamp())


def memberships(assignments, records):
    """{cluster_id: frozenset(local_ids)} for assertion convenience."""
    rows = assignments.join(records, "global_id").select(
        "cluster_id", "local_id"
    ).collect()
    out = {}
    for r in rows:
        out.setdefault(r.cluster_id, set()).add(r.local_id)
    return {k: frozenset(v) for k, v in out.items()}


def test_same_key_one_cluster(spark):
    # reference testClustersSameKey:1320-1366
    recs = records_df(
        spark,
        [
            ("S101", "BIB1", 1, payload(issn=["1"])),
            ("S102", "BIB1", 1, payload(issn=["1"])),
            ("S103", "BIB1", 1, payload(issn=["1"])),
        ],
    )
    values = extract_match_values(recs, [ISSN_CFG])
    assignments = cluster_all_pools(values)
    sets = set(memberships(assignments, recs).values())
    assert sets == {frozenset({"S101", "S102", "S103"})}


def test_per_pool_independence_and_merge(spark):
    # reference testClustersMove:1405-1469
    recs = records_df(
        spark,
        [
            ("S101", "BIB1", 1, payload(isbn=["1"], issn=["01"])),
            ("S102", "BIB1", 1, payload(isbn=["2", "3"], issn=["01"])),
        ],
    )
    values = extract_match_values(recs, [ISSN_CFG, ISBN_CFG])
    assignments = cluster_all_pools(values)
    issn_sets = set(
        memberships(
            assignments.filter(F.col("match_key_config_id") == "issn"), recs
        ).values()
    )
    isbn_sets = set(
        memberships(
            assignments.filter(F.col("match_key_config_id") == "isbn"), recs
        ).values()
    )
    assert issn_sets == {frozenset({"S101", "S102"})}
    assert isbn_sets == {frozenset({"S101"}), frozenset({"S102"})}

    # update S102 to share isbn "1" → isbn clusters merge (transitive)
    recs2 = records_df(
        spark,
        [
            ("S101", "BIB1", 1, payload(isbn=["1"], issn=["01"])),
            ("S102", "BIB1", 1, payload(isbn=["1", "2", "3"], issn=["01"])),
        ],
    )
    values2 = extract_match_values(recs2, [ISBN_CFG])
    assignments2 = cluster_all_pools(values2)
    isbn_sets2 = set(memberships(assignments2, recs2).values())
    assert isbn_sets2 == {frozenset({"S101", "S102"})}


def test_transitive_chain_merge(spark):
    # A-B share k1, B-C share k2, C-D share k3 → one component
    recs = records_df(
        spark,
        [
            ("A", "S", 1, payload(isbn=["k1"])),
            ("B", "S", 1, payload(isbn=["k1", "k2"])),
            ("C", "S", 1, payload(isbn=["k2", "k3"])),
            ("D", "S", 1, payload(isbn=["k3"])),
            ("E", "S", 1, payload(isbn=["other"])),
        ],
    )
    values = extract_match_values(recs, [ISBN_CFG])
    assignments = cluster_all_pools(values)
    sets = set(memberships(assignments, recs).values())
    assert sets == {frozenset({"A", "B", "C", "D"}), frozenset({"E"})}


def test_large_key_truncation(spark):
    # reference testClustersLargeKey:1369-1403 — 3600-char values that
    # agree on the first 600 chars cluster together
    long1 = "x" * 600 + "AAAA"
    long2 = "x" * 600 + "BBBB"
    recs = records_df(
        spark,
        [
            ("L1", "S", 1, payload(isbn=[long1])),
            ("L2", "S", 1, payload(isbn=[long2])),
        ],
    )
    values = extract_match_values(recs, [ISBN_CFG])
    assert (
        truncate_match_values(values)
        .select(F.max(F.length("match_value")))
        .collect()[0][0]
        == 600
    )
    assignments = cluster_all_pools(values)
    sets = set(memberships(assignments, recs).values())
    assert sets == {frozenset({"L1", "L2"})}


def test_latest_version_per_source(spark):
    # reference ClusterBuilder.latest:72-96 / testOaiSourceVersions
    recs = records_df(
        spark,
        [
            ("S1", "BIB1", 1, payload(issn=["9"])),
            ("S1", "BIB1", 2, payload(issn=["9"])),
            ("S2", "BIB2", 1, payload(issn=["9"])),
        ],
    )
    values = extract_match_values(recs, [ISSN_CFG])
    assignments = cluster_all_pools(values)
    members = latest_version_per_source(assignments.join(recs, "global_id"))
    got = {
        (r.local_id, r.source_version)
        for r in members.select("local_id", "source_version").collect()
    }
    assert got == {("S1", 2), ("S2", 1)}


def test_empty_string_match_value_clusters(spark):
    """ADVICE r1: '' is a regular clusterable value (reference
    Storage.java truncatedKeys inserts it like any key) — records whose
    matcher yields only '' cluster together, not as singletons."""
    recs = records_df(
        spark,
        [
            ("E1", "S1", 1, payload(issn=[""])),
            ("E2", "S2", 1, payload(issn=[""])),
        ],
    )
    values = extract_match_values(recs, [ISSN_CFG])
    assert values.count() == 2
    assignments = cluster_all_pools(values)
    sets = set(memberships(assignments, recs).values())
    assert sets == {frozenset({"E1", "E2"})}


def test_matcher_exception_raises_then_collects(spark):
    """ADVICE r1: a throwing matcher fails the ingest (reference
    contract) rather than silently emitting no keys; on_error='ignore'
    degrades and match_value_errors surfaces the per-record error."""
    from mod_reservoir_spark.operators.matchkeys import (
        match_value_errors,
        register_module,
    )

    def boom(_payload):
        raise ValueError("kaboom")

    register_module("boom::matchkey", boom)
    cfg = {"id": "boom", "matcher": "boom::matchkey", "update": "ingest"}
    recs = records_df(spark, [("B1", "S1", 1, payload(issn=["1"]))])
    with pytest.raises(Exception, match="kaboom"):
        extract_match_values(recs, [cfg]).collect()
    assert extract_match_values(recs, [cfg], on_error="ignore").count() == 0
    errs = match_value_errors(recs, [cfg]).collect()
    assert len(errs) == 1
    assert "kaboom" in errs[0].error


def test_latest_version_source_wide_max_and_ties(spark):
    """ADVICE r1: ClusterBuilder.latest keys its max-version map by
    sourceId ALONE — a stale localId of the same source drops even at
    its own newest version — and keeps ALL records tied at the max."""
    recs = records_df(
        spark,
        [
            ("L1", "SRC", 1, payload(issn=["9"])),  # stale vs source max
            ("L2", "SRC", 2, payload(issn=["9"])),  # at source max
            ("L3", "SRC", 2, payload(issn=["9"])),  # tied at source max
            ("LX", "OTH", 5, payload(issn=["9"])),  # other source
        ],
    )
    values = extract_match_values(recs, [ISSN_CFG])
    assignments = cluster_all_pools(values)
    members = latest_version_per_source(assignments.join(recs, "global_id"))
    got = {
        (r.local_id, r.source_version)
        for r in members.select("local_id", "source_version").collect()
    }
    assert got == {("L2", 2), ("L3", 2), ("LX", 5)}


def test_cluster_output_shape(spark):
    recs = records_df(
        spark,
        [
            ("S2", "B", 1, payload(issn=["7"])),
            ("S1", "A", 1, payload(issn=["7", "8"])),
        ],
    )
    values = extract_match_values(recs, [ISSN_CFG])
    assignments = cluster_all_pools(values)
    built = build_clusters(assignments, recs, values).collect()
    assert len(built) == 1
    row = built[0]
    assert row.matchValues == ["7", "8"]
    # deterministic member order: by (sourceId, sourceVersion, localId)
    assert [m.localId for m in row.records] == ["S1", "S2"]


def test_get_clusters_cql_and_paging(spark):
    recs = records_df(
        spark,
        [(f"R{i:02d}", "SRC", 1, payload(issn=[str(i // 2)])) for i in range(10)],
    )
    values = extract_match_values(recs, [ISSN_CFG])
    assignments = cluster_all_pools(values)
    res = get_clusters(
        assignments, recs, values, "issn", cql=None, limit=3, offset=0, count="exact"
    )
    assert res.total == 5
    page = res.items.collect()
    assert len(page) == 3
    # CQL on matchValue
    res2 = get_clusters(
        assignments, recs, values, "issn", cql='matchValue = "3"', count="exact"
    )
    assert res2.total == 1
    only = res2.items.collect()[0]
    assert {m.localId for m in only.records} == {"R06", "R07"}


def test_matchkey_stats(spark):
    recs = records_df(
        spark,
        [
            ("A", "S", 1, payload(issn=["1"])),
            ("B", "S", 1, payload(issn=["1"])),
            ("C", "S", 1, payload(issn=["2"])),
        ],
    )
    values = extract_match_values(recs, [ISSN_CFG])
    assignments = cluster_all_pools(values)
    stats = matchkey_stats(assignments, values, "issn")
    assert stats["clustersTotal"] == 2
    assert stats["recordsTotal"] == 3
    hist = {h["records"]: h["clusters"] for h in stats["recordsPerCluster"]}
    assert hist == {1: 1, 2: 1}


def test_ingest_batch_end_to_end(spark, warehouse):
    rows = [
        ("S101", "BIB1", 1, payload(issn=["1"]), None),
        ("S102", "BIB1", 1, payload(issn=["1"]), None),
        ("S103", "BIB1", 1, payload(issn=["2"]), None),
    ]
    incoming = spark.createDataFrame(
        rows,
        "local_id string, source_id string, source_version int, "
        "payload string, delete boolean",
    )
    stats = ingest_batch(warehouse, incoming, [ISSN_CFG])
    assert stats == {"processed": 3, "inserted": 3, "updated": 0, "deleted": 0}
    assignments = warehouse.read("cluster_assignments")
    recs = warehouse.read("global_records")
    sets = set(memberships(assignments, recs).values())
    assert sets == {frozenset({"S101", "S102"}), frozenset({"S103"})}
    meta0 = {
        (r.cluster_id): r.datestamp
        for r in warehouse.read("cluster_meta").collect()
    }
    assert len(meta0) == 2

    # batch 2: S103 gains issn=1 → merge; delete tombstone for S101
    rows2 = [
        ("S103", "BIB1", 1, payload(issn=["1", "2"]), None),
    ]
    incoming2 = spark.createDataFrame(
        rows2,
        "local_id string, source_id string, source_version int, "
        "payload string, delete boolean",
    )
    stats2 = ingest_batch(warehouse, incoming2, [ISSN_CFG])
    assert stats2["updated"] == 1
    assignments2 = warehouse.read("cluster_assignments")
    recs2 = warehouse.read("global_records")
    sets2 = set(memberships(assignments2, recs2).values())
    assert sets2 == {frozenset({"S101", "S102", "S103"})}


def test_connected_components_direct(spark):
    edges = spark.createDataFrame(
        [("a", "v1"), ("b", "v1"), ("b", "v2"), ("c", "v2"), ("d", "v9")],
        "global_id string, match_value string",
    )
    comp = connected_components(edges)
    got = {r.global_id: r.cluster_id for r in comp.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d"}


def test_manual_pool_untouched_at_ingest(spark, warehouse):
    # reference testMatchKeysManual:1816 — update=manual pools are only
    # populated by initialize (full rebuild), never at ingest
    import json as _json
    from mod_reservoir_spark.streaming.ingest import initialize_pool

    manual_cfg = {
        "id": "man",
        "method": "jsonpath",
        "params": _json.dumps({"expr": "$.inventory.issn[*]"}),
        "update": "manual",
    }
    incoming = spark.createDataFrame(
        [
            ("M1", "B", 1, payload(issn=["7"]), None),
            ("M2", "B", 1, payload(issn=["7"]), None),
        ],
        "local_id string, source_id string, source_version int, "
        "payload string, delete boolean",
    )
    stats = ingest_batch(warehouse, incoming, [ISSN_CFG, manual_cfg])
    assert stats["processed"] == 2
    assigns = warehouse.read("cluster_assignments")
    assert assigns.filter("match_key_config_id = 'issn'").count() == 2
    assert assigns.filter("match_key_config_id = 'man'").count() == 0

    initialize_pool(warehouse, manual_cfg)
    assigns2 = warehouse.read("cluster_assignments")
    man = assigns2.filter("match_key_config_id = 'man'")
    assert man.count() == 2
    assert man.select("cluster_id").distinct().count() == 1


def _batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "local_id string, source_id string, source_version int, "
        "payload string, delete boolean",
    )


# a warehouse built, then merged, split and tombstoned by three batches
INCREMENTAL_BATCHES = [
    [
        ("A", "S", 1, payload(issn=["1"]), None),
        ("B", "S", 1, payload(issn=["1"]), None),
        ("C", "S", 1, payload(issn=["2"]), None),
        ("D", "S", 1, payload(issn=["2", "3"]), None),
        ("E", "S", 1, payload(issn=["3"]), None),
        ("F", "S", 1, payload(), None),
    ],
    # D gains a v2 with issn 4 (old version's values persist — global
    # ids are per (local, source, version)); G joins {A,B}
    [
        ("D", "S", 2, payload(issn=["4"]), None),
        ("G", "S", 1, payload(issn=["1"]), None),
    ],
    # tombstone B (removes every version); X bridges issn 2 and 4 —
    # merging {C,D1,E} with {D2}: the far member E must relabel even
    # though it shares no value with the batch (full-cluster closure)
    [
        ("B", "S", 2, None, True),
        ("X", "S", 1, payload(issn=["2", "4"]), None),
    ],
]


def _ingest_incremental_batches(spark, warehouse):
    """Run INCREMENTAL_BATCHES with one fixed ``now`` per batch and
    check each batch's datestamps: exactly the changed clusters get
    the batch's ``now``, every other meta row keeps its datestamp, and
    a cluster that lost all its members keeps its row."""
    import datetime as dt

    def snapshot():
        assigned = {
            r.global_id: r.cluster_id
            for r in warehouse.read("cluster_assignments").collect()
        }
        meta = {
            r.cluster_id: r.datestamp
            for r in warehouse.read("cluster_meta").collect()
        }
        return assigned, meta

    vanished_seen = False
    stats = []
    for i, rows in enumerate(INCREMENTAL_BATCHES):
        now = dt.datetime(2024, 1, 1 + i)
        old, old_meta = snapshot()
        stats.append(
            ingest_batch(
                warehouse, _batch(spark, rows), [ISSN_CFG], now=F.lit(now)
            )
        )
        new, meta = snapshot()
        changed = {
            c
            for g in old.keys() | new.keys()
            if old.get(g) != new.get(g)
            for c in (old.get(g), new.get(g))
            if c is not None
        }
        assert changed
        assert {c for c, d in meta.items() if d == now} == changed
        assert all(meta[c] == d for c, d in old_meta.items() if c not in changed)
        vanished = set(old.values()) - set(new.values())
        assert vanished <= meta.keys()
        vanished_seen |= bool(vanished)
    assert vanished_seen
    return stats


def test_incremental_recluster_equals_full_rebuild(
    spark, warehouse, tmp_path, monkeypatch
):
    """ingest_batch re-clusters only the affected subgraph; after
    merges, an update that splits a chain, and a tombstone, the
    assignments (including cluster ids) must equal a full rebuild.
    The batches take the driver path; forced onto the Spark path
    (``DRIVER_CC_MAX_EDGES = 0``), or on the driver path with every
    key set a broadcast frame and local rows split over tasks, the same
    batches must leave the four tables equal row for row."""
    from mod_reservoir_spark.core.storage import Warehouse
    from mod_reservoir_spark.operators import clustering as cc
    from mod_reservoir_spark.streaming import ingest as ingest_mod

    stats = _ingest_incremental_batches(spark, warehouse)
    assert cc.LAST_RUN_STATS["path"] == "driver"
    assert stats[2] == {
        "processed": 2, "inserted": 1, "updated": 0, "deleted": 1
    }
    variants = {
        "spark_path": [(cc, "DRIVER_CC_MAX_EDGES", 0)],
        "key_frames": [
            (ingest_mod, "_ISIN_MAX_KEYS", 0),
            (ingest_mod, "_LOCAL_ROWS_PER_TASK", 4),
        ],
    }
    for name, patches in variants.items():
        other = Warehouse(spark, str(tmp_path / name))
        with monkeypatch.context() as m:
            for module, attr, value in patches:
                m.setattr(module, attr, value)
            assert _ingest_incremental_batches(spark, other) == stats
            assert ("path" in cc.LAST_RUN_STATS) == (name == "key_frames")
        for table in (
            "global_records",
            "record_match_values",
            "cluster_assignments",
            "cluster_meta",
        ):
            assert sorted(warehouse.read(table).collect()) == sorted(
                other.read(table).collect()
            ), (name, table)

    recs = warehouse.read("global_records")
    incr = warehouse.read("cluster_assignments")
    sets = set(memberships(incr, recs).values())
    assert sets == {
        frozenset({"A", "G"}),
        frozenset({"C", "D", "E", "X"}),
        frozenset({"F"}),
    }

    incr_rows = {(r.global_id, r.cluster_id) for r in incr.collect()}
    from mod_reservoir_spark.streaming.ingest import initialize_pool

    initialize_pool(warehouse, ISSN_CFG)
    full_rows = {
        (r.global_id, r.cluster_id)
        for r in warehouse.read("cluster_assignments").collect()
    }
    assert incr_rows == full_rows


def test_batch_replayed_after_a_crash_between_cluster_commits(
    spark, warehouse, tmp_path, monkeypatch
):
    """Ingest is at-least-once: a batch that crashes before one of its
    cluster table commits and is then replayed leaves the four tables
    exactly as one clean run does (every live cluster has a meta row,
    every changed one the batch's datestamp, the tombstoned record is
    gone), on the driver path and on the Spark path
    (``DRIVER_CC_MAX_EDGES = 0``)."""
    import datetime as dt
    import shutil

    from mod_reservoir_spark.core.storage import Warehouse
    from mod_reservoir_spark.operators import clustering as cc

    tables = (
        "global_records",
        "record_match_values",
        "cluster_meta",
        "cluster_assignments",
    )
    last = len(INCREMENTAL_BATCHES) - 1

    def run(wh, i):
        ingest_batch(
            wh,
            _batch(spark, INCREMENTAL_BATCHES[i]),
            [ISSN_CFG],
            now=F.lit(dt.datetime(2024, 1, 1 + i)),
        )

    for i in range(last):
        run(warehouse, i)
    before = str(tmp_path / "before")
    shutil.copytree(warehouse.root, before)
    run(warehouse, last)
    clean = {t: sorted(warehouse.read(t).collect()) for t in tables}

    write = Warehouse.write
    for max_edges, crash_at in (
        (None, "cluster_meta"),
        (None, "cluster_assignments"),
        (0, "cluster_assignments"),
    ):
        wh = Warehouse(spark, str(tmp_path / f"{crash_at}-{max_edges}"))
        shutil.copytree(before, wh.root)

        def crashing(self, table, df, partition_by=None):
            if table == crash_at:
                raise RuntimeError("crash before commit")
            return write(self, table, df, partition_by)

        with monkeypatch.context() as m:
            if max_edges is not None:
                m.setattr(cc, "DRIVER_CC_MAX_EDGES", max_edges)
            with monkeypatch.context() as crash:
                crash.setattr(Warehouse, "write", crashing)
                with pytest.raises(RuntimeError, match="crash before commit"):
                    run(wh, last)
            run(wh, last)
        for t in tables:
            assert sorted(wh.read(t).collect()) == clean[t], (
                max_edges, crash_at, t,
            )


@pytest.mark.parametrize("driver_max_edges", [None, 0])
def test_ingest_releases_frames_when_a_matcher_raises(
    spark, warehouse, monkeypatch, driver_max_edges
):
    """A matcher that raises mid-batch fails the batch and leaves no
    RDD persisted, on the driver path and on the Spark path."""
    from mod_reservoir_spark.operators import clustering as cc
    from mod_reservoir_spark.operators.matchkeys import register_module

    def boom(_record):
        raise ValueError("matcher failure")

    register_module("test-boom", boom)
    if driver_max_edges is not None:
        monkeypatch.setattr(cc, "DRIVER_CC_MAX_EDGES", driver_max_edges)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(Exception, match="matcher failure"):
        ingest_batch(
            warehouse,
            _batch(spark, INCREMENTAL_BATCHES[0]),
            [ISSN_CFG, {"id": "boom", "matcher": "test-boom", "update": "ingest"}],
        )
    assert set(jsc.getPersistentRDDs().keys()) <= before


def test_one_record_batch_job_count(spark, warehouse):
    """A one-record batch into a small warehouse runs at most 30 Spark
    jobs: the affected subgraph is collected once, not re-planned."""
    _ingest_incremental_batches(spark, warehouse)
    sc = spark.sparkContext
    group = "test-one-record-batch"
    sc.setJobGroup(group, "one-record ingest batch")
    try:
        ingest_batch(
            warehouse,
            _batch(spark, [("Y", "S", 1, payload(issn=["1", "9"]), None)]),
            [ISSN_CFG],
        )
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 30, len(jobs)


def test_warehouse_versioned_atomic_commits(spark, tmp_path):
    """Writes land in fresh _vN dirs with an atomic pointer flip: a
    reader's lazy plan bound to v1 survives a v2 commit, a junk _v dir
    without a pointer update is invisible, and old versions are GC'd."""
    import os

    from mod_reservoir_spark.core.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    wh.write("module_registry", df1)
    assert wh.current_version("module_registry") == 1
    reader_v1 = wh.read("module_registry")  # lazy plan bound to _v1

    df2 = spark.createDataFrame([(2, "b"), (3, "c")], "id long, v string")
    wh.write("module_registry", df2)
    assert wh.current_version("module_registry") == 2
    # the pre-commit reader still sees v1 (in-place overwrite used to
    # invalidate it); new readers see v2
    assert reader_v1.count() == 1
    assert wh.read("module_registry").count() == 2

    # a crash that leaves a partial _v3 without the pointer flip is
    # invisible to readers
    os.makedirs(tmp_path / "module_registry" / "_v3")
    assert wh.read("module_registry").count() == 2

    # GC keeps the last KEEP_VERSIONS snapshots
    wh.write("module_registry", df1)  # v4 (after junk _v3)
    versions = {
        e for e in os.listdir(tmp_path / "module_registry")
        if e.startswith("_v")
    }
    assert "_v1" not in versions


def test_warehouse_legacy_layout_readable(spark, tmp_path):
    from mod_reservoir_spark.core.storage import Warehouse

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    df.write.parquet(str(tmp_path / "module_registry"))
    wh = Warehouse(spark, str(tmp_path))
    assert wh.exists("module_registry")
    assert wh.read("module_registry").count() == 1


def test_stream_clusters_matches_paged(spark):
    """Streamed JSON sink (toLocalIterator, bounded driver memory)
    yields exactly the paged result's clusters, in cluster_id order,
    with payloads parsed and the CQL join elision applied."""
    import json as _json

    from mod_reservoir_spark.operators.clusters import (
        get_clusters,
        stream_clusters_json,
    )

    recs = records_df(
        spark,
        [
            ("A", "S1", 1, payload(issn=["1"])),
            ("B", "S1", 1, payload(issn=["1"])),
            ("C", "S2", 1, payload(issn=["2"])),
            ("D", "S2", 1, payload(issn=["3"])),
        ],
    )
    values = extract_match_values(recs, [ISSN_CFG])
    assignments = cluster_all_pools(values)

    paged = {
        r["cluster_id"]
        for r in get_clusters(assignments, recs, values, "issn").items.collect()
    }
    streamed = [
        _json.loads(s)
        for s in stream_clusters_json(assignments, recs, values, "issn")
    ]
    assert {c["clusterId"] for c in streamed} == paged
    ids = [c["clusterId"] for c in streamed]
    assert ids == sorted(ids)
    rec = streamed[0]["records"][0]
    assert isinstance(rec["payload"], dict)  # parsed, not a string
    # CQL filter narrows the stream (sourceId join authored on demand)
    filtered = list(
        stream_clusters_json(
            assignments, recs, values, "issn", cql="sourceId = S2"
        )
    )
    got = {_json.loads(s)["clusterId"] for s in filtered}
    assert len(got) == 2  # C and D clusters only


def test_cc_chain_convergence_or_loud_failure(spark):
    """Worst-case topology (VERDICT r4 #6): a long chain — records
    linked pairwise through distinct values, the testClustersMove
    shape at scale — needs ~diameter/2 iterations. Within budget the
    labels are one exact component; beyond it the run must FAIL
    LOUDLY, never return silently split components."""
    import pytest

    from mod_reservoir_spark.operators.clustering import (
        connected_components,
    )

    # 1000-node chain: value v_i links r_i and r_{i+1}
    n = 1000
    rows = []
    for i in range(n - 1):
        rows.append((i, f"v{i}"))
        rows.append((i + 1, f"v{i}"))
    edges = spark.createDataFrame(
        rows, "global_id long, match_value string"
    ).repartition(8)

    # driver_max_edges=0 throughout: this test pins the ITERATIVE
    # path's convergence bound; the small-graph driver fast path
    # would solve the 1000-chain without iterating at all
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            edges, max_iterations=5, driver_max_edges=0
        ).count()

    # with pointer jumping the SAME 1000-chain converges inside the
    # default budget (~log2(1000) ≈ 10 rounds) to one exact component
    got = connected_components(edges, driver_max_edges=0).collect()
    assert len(got) == n
    assert {r.cluster_id for r in got} == {0}

    # partial labels remain available on explicit opt-in
    warned = connected_components(
        edges, max_iterations=2, on_nonconverged="warn",
        driver_max_edges=0,
    )
    assert warned.count() == n


def test_cc_telemetry_stats_populated(spark):
    """connected_components records machine-readable telemetry after
    every run (bench.py snapshots it into CC_TELEMETRY.json — VERDICT
    r6 'Next #10')."""
    from mod_reservoir_spark.operators import clustering as cc

    edges = spark.createDataFrame(
        [("a", "k1"), ("b", "k1"), ("c", "k2")], "global_id string, match_value string"
    )
    before = cc.LAST_RUN_STATS.get("runs", 0)
    cc.connected_components(
        edges, node_col="global_id", value_col="match_value",
        driver_max_edges=0,
    ).collect()
    stats = cc.LAST_RUN_STATS
    assert stats["runs"] == before + 1
    assert stats["converged"] is True
    assert stats["edges"] == 3
    assert 1 <= stats["iterations"] <= stats["total_iterations"]


def test_adversarial_cc_telemetry(spark):
    """The bench sidecar's adversarial row (VERDICT r9 Next #8): a
    path graph must drive MULTIPLE large-star iterations (the star
    graphs the bench's real queries build converge in 1, making the
    iteration-bound telemetry vacuous) AND reach the exact fixpoint —
    one component labeled by its min id."""
    from mod_reservoir_spark.operators.clustering import (
        adversarial_cc_telemetry,
    )

    t = adversarial_cc_telemetry(spark, n=256)
    assert t["converged"] is True
    assert t["exact_fixpoint"] is True
    # a 256-chain cannot converge in the star graphs' 1-2 rounds: the
    # seeded first hop + 2-hop rounds + pointer jumping after round 3
    # still need ≥ 4 rounds (log2(256) = 8 two-hop-ish)
    assert t["iterations"] > 3, t
    assert t["edges"] == 2 * 255


def test_hub_cc_telemetry(spark):
    """The bench sidecar's skewed-hub row (VERDICT r10 Next #4): one
    hot match_value shared by 20k records plus background stars must
    converge in the star graphs' 1-2 rounds, reach the exact
    fixpoint (hub component labeled 0 with ALL hub members — a
    skew-induced truncation would silently split it), and report the
    peak per-value fan-out for the round-over-round sidecar."""
    from mod_reservoir_spark.operators.clustering import hub_cc_telemetry

    t = hub_cc_telemetry(spark, hub=20_000, pools=200, pool_size=5)
    assert t["converged"] is True
    assert t["exact_fixpoint"] is True
    assert t["hub_fanout"] == 20_000
    assert t["edges"] == 20_000 + 200 * 5
    # star topology: the seeded first hop labels everything, one
    # confirming pass — skew must not add rounds
    assert t["iterations"] <= 2, t


def test_driver_cc_matches_iterative(spark):
    """The r13 small-graph driver fast path (collect + union-find)
    must produce EXACTLY the iterative fixpoint's labels — same
    min-label per component, same row set — on a mixed topology
    (chain + stars + hub + duplicate edges + a singleton), for both
    long and string node types."""
    from mod_reservoir_spark.operators.clustering import (
        connected_components,
    )

    rows = []
    for i in range(40):  # chain segment
        rows.append((i, f"c{i}"))
        rows.append((i + 1, f"c{i}"))
    for s in range(5):  # stars
        for m in range(4):
            rows.append((100 + s * 10 + m, f"s{s}"))
    for h in range(30):  # hub
        rows.append((500 + h, "hub"))
    rows.append((999, "lonely"))
    rows.append((0, "c0"))  # duplicate edge

    for schema in (
        "global_id long, match_value string",
        "global_id string, match_value string",
    ):
        data = (
            rows
            if schema.startswith("global_id long")
            else [(f"n{a:04d}", v) for a, v in rows]
        )
        edges = spark.createDataFrame(data, schema)
        fast = {
            (r.global_id, r.cluster_id)
            for r in connected_components(edges).collect()
        }
        slow = {
            (r.global_id, r.cluster_id)
            for r in connected_components(
                edges, driver_max_edges=0
            ).collect()
        }
        assert fast == slow


def test_driver_cc_telemetry_and_gate(spark):
    """Fast-path runs report path='driver' with iterations=0; forcing
    driver_max_edges=0 keeps the iterative path and clears the marker."""
    from mod_reservoir_spark.operators import clustering as cc

    edges = spark.createDataFrame(
        [("a", "k1"), ("b", "k1"), ("c", "k2")],
        "global_id string, match_value string",
    )
    got = {
        r.global_id: r.cluster_id
        for r in cc.connected_components(edges).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "c"}
    assert cc.LAST_RUN_STATS["path"] == "driver"
    assert cc.LAST_RUN_STATS["iterations"] == 0
    assert cc.LAST_RUN_STATS["converged"] is True
    assert cc.LAST_RUN_STATS["edges"] == 3
    cc.connected_components(edges, driver_max_edges=0).collect()
    assert "path" not in cc.LAST_RUN_STATS
    assert cc.LAST_RUN_STATS["iterations"] >= 1
