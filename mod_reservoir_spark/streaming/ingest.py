"""Incremental ingest: upsert batch → re-extract keys → re-cluster →
bump datestamps of changed clusters.

Replaces the reference's per-record transactional union-find
(reference server/.../Storage.java:251-522) with a deterministic batch
pipeline (SURVEY.md §2.7 "Spark primitive"): connected components are
recomputed per affected pool each batch, and datestamps advance for
exactly the clusters whose membership changed — reproducing the
observable invariant (datestamp bumps on insert/update/delete/merge)
without per-row locking.

Scale note: a batch re-clusters only the components it can change
(the closure in `affected_subgraph`). When the batch and that subgraph
fit the driver bound (`clustering.DRIVER_CC_MAX_EDGES` rows), they are
collected once: the upsert, the stats, CC, the changed clusters and the
meta delta are computed on the driver, and each table is written as
one scan of its stored snapshot minus the affected keys plus the local
rows — a small batch costs a few dozen Spark jobs whatever the
warehouse size, and no frame is cached on top of another. Key sets
enter a plan as an `isin` list up to ``_ISIN_MAX_KEYS`` keys and as a
broadcast local frame above, so no plan grows with the batch. Above
the bound, the same steps run as Spark joins over the affected
subgraph only (CC iterations never touch unaffected components).
`initialize_pool` remains the full rebuild (new/changed configs).

Replay: the tables are committed one at a time (global_records,
record_match_values, cluster_meta, cluster_assignments), and a batch
replayed after a crash between two commits leaves the tables a clean
run leaves: the cluster delta is recomputed from the assignments that
were not yet replaced, and records the batch deleted, which
global_records no longer holds, are found again as assignments
without a record.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from mod_reservoir_spark.core.model import (
    CLUSTER_ASSIGNMENTS_SCHEMA,
    RECORD_MATCH_VALUES_SCHEMA,
)
from mod_reservoir_spark.core.storage import (
    NATURAL_KEY,
    Warehouse,
    _upsert,
    deterministic_global_id,
    normalize_source_ids,
)
from mod_reservoir_spark.operators import clustering
from mod_reservoir_spark.operators.clustering import (
    _driver_components,
    _record_driver_run,
    cluster_all_pools,
    truncate_match_values,
)
from mod_reservoir_spark.operators.matchkeys import extract_match_values
from mod_reservoir_spark.streaming.windowed import _held


def changed_clusters(
    old_assignments: DataFrame, new_assignments: DataFrame
) -> DataFrame:
    """Clusters whose membership set changed between snapshots: any
    (record, pool) pair that appears on exactly one side, or moved
    cluster, marks both its old and new cluster as changed."""
    o = old_assignments.select(
        "global_id", "match_key_config_id", F.col("cluster_id").alias("_old")
    )
    n = new_assignments.select(
        "global_id", "match_key_config_id", F.col("cluster_id").alias("_new")
    )
    full = o.join(n, ["global_id", "match_key_config_id"], "full_outer")
    moved = full.filter(
        F.col("_old").isNull()
        | F.col("_new").isNull()
        | (F.col("_old") != F.col("_new"))
    )
    return (
        moved.select(
            "match_key_config_id", F.col("_old").alias("cluster_id")
        )
        .unionByName(
            moved.select(
                "match_key_config_id", F.col("_new").alias("cluster_id")
            )
        )
        .filter(F.col("cluster_id").isNotNull())
        .distinct()
    )


def advance_meta(
    old_meta: DataFrame, new_assignments: DataFrame, changed: DataFrame, now=None
) -> DataFrame:
    """New cluster_meta: one row per live cluster; datestamp = previous
    datestamp, bumped to `now` for changed clusters (and for clusters
    that disappeared the reference keeps meta rows so deleted clusters
    are still listed by OAI with status=deleted — we keep them too,
    marked by a null membership join at export time)."""
    now = now if now is not None else F.current_timestamp()
    live = new_assignments.select("cluster_id", "match_key_config_id").distinct()
    keep_old = old_meta.select("cluster_id", "match_key_config_id", "datestamp")
    merged = (
        live.join(keep_old, ["cluster_id", "match_key_config_id"], "left")
        .unionByName(
            # clusters that vanished this batch (all members gone/moved):
            # keep their meta row, datestamp will bump below
            keep_old.join(live, ["cluster_id", "match_key_config_id"], "left_anti")
        )
    )
    changed = changed.withColumn("_chg", F.lit(True))
    return (
        merged.join(changed, ["cluster_id", "match_key_config_id"], "left")
        .withColumn(
            "datestamp",
            F.when(
                F.col("_chg") | F.col("datestamp").isNull(), now
            ).otherwise(F.col("datestamp")),
        )
        .drop("_chg")
    )


def affected_subgraph(
    values: DataFrame,
    old_assign: DataFrame,
    batch_ids: DataFrame,
    all_record_ids: DataFrame,
    pool_ids: list[str],
) -> DataFrame:
    """Per-pool record set whose cluster assignment can change this
    batch: (global_id, match_key_config_id), distinct.

    Closure argument: non-batch records' edges are unchanged, so in
    the new graph a batch record's component is a union of OLD
    components bridged by the batch's values, and a component can only
    split if it loses a batch record. Seeds are therefore the batch
    records plus every record sharing a current match value with one;
    expanding each seed to its ENTIRE old cluster closes the set — if
    a member of an included cluster shared a value with an outside
    record, both edges predate the batch and the two would already be
    one old cluster. Affected =

    - the batch records themselves (new records included), per pool;
    - every member of an old cluster containing a seed (covers merges
      the batch's values introduce — wholly, so a bridged cluster's
      far members relabel too — and updates/deletes splitting a
      remainder);
    - records with no assignment in the pool yet (fresh pool /
      pre-config records — degrades to a full rebuild exactly when
      one is needed).
    """
    batch_pools = batch_ids.select("global_id", _pools(pool_ids))

    old_pool_assign = old_assign.filter(
        F.col("match_key_config_id").isin(pool_ids)
    )
    batch_values = values.join(batch_ids, "global_id", "left_semi").select(
        "match_key_config_id", "match_value"
    ).distinct()
    value_sharers = values.join(
        batch_values, ["match_key_config_id", "match_value"], "left_semi"
    ).select("global_id", "match_key_config_id")
    seeds = batch_pools.unionByName(value_sharers)

    seed_clusters = old_pool_assign.join(
        seeds, ["global_id", "match_key_config_id"], "left_semi"
    ).select("match_key_config_id", "cluster_id").distinct()
    cluster_members = old_pool_assign.join(
        seed_clusters, ["match_key_config_id", "cluster_id"], "left_semi"
    ).select("global_id", "match_key_config_id")

    unassigned = all_record_ids.select("global_id", _pools(pool_ids)).join(
        old_pool_assign,
        ["global_id", "match_key_config_id"],
        "left_anti",
    )

    return (
        seeds.unionByName(cluster_members)
        .unionByName(unassigned)
        .distinct()
    )


def ingest_batch(
    wh: Warehouse,
    incoming: DataFrame,
    configs: list[dict],
    now=None,
) -> dict:
    """One micro-batch: upsert records, handle tombstones, re-extract
    match values for ingest-mode pools, re-cluster, advance meta.

    Returns ingest stats (reference IngestStats.java contract:
    processed/inserted/updated/deleted counters from snapshot diffs).
    """
    now_col = now if now is not None else F.current_timestamp()
    existing = wh.read("global_records")
    keys = ["local_id", "source_id"]

    with _held() as hold:
        # persist the batch: its lineage may be expensive (binaryFile
        # scan + MARC decode for uploads, streaming file source for
        # foreachBatch), and every step below reads it. `_ord` is the
        # arrival order: the last row of a natural key wins
        incoming = hold(
            normalize_source_ids(incoming).withColumn(
                "_ord", F.monotonically_increasing_id()
            )
        )
        local = _local_upsert(existing, incoming, now_col)
        if local is not None:
            merged, stats, ids = local
            batch_ids = _local_frame(
                wh.spark, [(g,) for g in sorted(ids)], "global_id string"
            )
        else:
            tombstones = (
                incoming.filter(F.col("delete") == True)  # noqa: E712
                .select(*keys)
                .distinct()
            )
            upserts = incoming.filter(
                F.col("delete").isNull() | (F.col("delete") == False)  # noqa: E712
            ).drop("delete")
            merged, flagged = _upsert(existing, upserts, now_col)
            # tombstone: remove every version of (local_id, source_id)
            merged = merged.join(tombstones, keys, "left_anti")
            gone = existing.join(tombstones, keys, "left_semi")
            stats = _batch_stats(incoming, flagged, gone)
            # the batch's global ids: every stored version of a batch
            # key, and the upserted rows no tombstone removes
            batch_ids = (
                existing.join(incoming.select(*keys), keys, "left_semi")
                .select("global_id")
                .unionByName(
                    flagged.join(tombstones, keys, "left_anti").select(
                        "global_id"
                    )
                )
                .distinct()
            )

        wh.write("global_records", merged, partition_by=["source_id"])
        # read back the committed snapshot: downstream plans scan the
        # new parquet version instead of recomputing the upsert joins,
        # and the versioned store keeps `existing`'s snapshot readable
        merged = wh.read("global_records")
        ingest_configs = [
            c for c in configs if (c.get("update") or "ingest") == "ingest"
        ]
        if ingest_configs:
            recluster_pools(
                wh, merged, ingest_configs, now_col, batch_ids=batch_ids
            )
    return stats


def _local_upsert(
    existing: DataFrame, incoming: DataFrame, now: Column
) -> tuple[DataFrame, dict, set] | None:
    """The upsert of a small batch from its keys, collected to the
    driver with the stored rows that share a (local_id, source_id):
    (new snapshot, stats, the batch's global ids). The snapshot is the
    stored one minus the replaced and tombstoned keys, plus the kept
    incoming rows, so writing it is one scan of each. None when the
    batch or its stored rows are over ``DRIVER_CC_MAX_EDGES`` rows, or
    a key is null or holds the key separator (the Spark path's join
    semantics then apply)."""
    limit = clustering.DRIVER_CC_MAX_EDGES

    def clean(rows) -> bool:
        return len(rows) <= limit and all(
            v is not None and _SEP not in str(v)
            for r in rows
            for v in (r.local_id, r.source_id, r.source_version)
        )

    rows = (
        incoming.select(*NATURAL_KEY, "delete", "_ord")
        .withColumn("global_id", deterministic_global_id())
        .limit(limit + 1)
        .collect()
    )
    if not clean(rows):
        return None
    pairs = {(r.local_id, r.source_id) for r in rows}
    stored = (
        _where(
            existing.filter(
                F.col("source_id").isin(sorted({s for _, s in pairs}))
            ),
            ["local_id", "source_id"],
            pairs,
        )
        .select("global_id", *NATURAL_KEY)
        .limit(limit + 1)
        .collect()
    )
    if not clean(stored):
        return None

    tombs = {(r.local_id, r.source_id) for r in rows if r.delete}
    kept = {}  # natural key -> its last upsert row
    for r in sorted((r for r in rows if not r.delete), key=lambda r: r._ord):
        kept[(r.local_id, r.source_id, r.source_version)] = r
    had = {(r.local_id, r.source_id, r.source_version) for r in stored}
    stats = {
        "processed": len(rows),
        "inserted": sum(k not in had for k in kept),
        "updated": sum(k in had for k in kept),
        "deleted": sum((r.local_id, r.source_id) in tombs for r in stored),
    }
    live = [r for k, r in kept.items() if k[:2] not in tombs]
    ids = {r.global_id for r in stored} | {r.global_id for r in live}

    merged = _where(
        _where(existing, NATURAL_KEY, kept, keep=False),
        ["local_id", "source_id"],
        tombs,
        keep=False,
    ).unionByName(
        _where(incoming, ["_ord"], [r._ord for r in live])
        .withColumn("global_id", deterministic_global_id())
        .withColumn("updated_at", now)
        .select(*existing.columns)
    )
    # the column order the Spark path's key joins write
    rest = [c for c in existing.columns if c not in NATURAL_KEY]
    return merged.select(*NATURAL_KEY, *rest), stats, ids


def _batch_stats(
    incoming: DataFrame, flagged: DataFrame, gone: DataFrame
) -> dict:
    """processed / inserted / updated / deleted in one aggregate: the
    batch's rows, its upserted keys (``_had`` null for a new key) and
    the stored rows its tombstones remove."""
    kind = F.col("_kind")
    row = (
        incoming.select(F.lit("processed").alias("_kind"))
        .unionByName(
            flagged.select(
                F.when(F.col("_had").isNull(), "inserted")
                .otherwise("updated")
                .alias("_kind")
            )
        )
        .unionByName(gone.select(F.lit("deleted").alias("_kind")))
        .agg(
            *[
                F.count_if(kind == k).alias(k)
                for k in ("processed", "inserted", "updated", "deleted")
            ]
        )
        .first()
    )
    return row.asDict()


def recluster_pools(
    wh: Warehouse,
    records: DataFrame,
    configs: list[dict],
    now=None,
    batch_ids: DataFrame | None = None,
) -> None:
    """Recompute match values + CC for the given pools and merge the
    results into the cluster tables, bumping changed clusters' meta.

    With ``batch_ids`` (a `global_id` frame), only the affected
    subgraph is re-clustered — match values are re-extracted for the
    batch records alone and CC runs over the components the batch can
    reach; everything else keeps its assignment (provably identical to
    a full recompute: min-label depends only on a component's member
    set, and unaffected components keep theirs). That subgraph is
    collected to the driver and solved there (``_local_delta``) unless
    it holds more than ``DRIVER_CC_MAX_EDGES`` rows; then the same
    closure runs as Spark joins. Without ``batch_ids``, the full
    rebuild runs (`initialize_pool`)."""
    now = now if now is not None else F.current_timestamp()
    if batch_ids is not None:
        delta = _local_delta(wh, records, configs, batch_ids)
        if delta is not None:
            _write_delta(wh, delta, now)
            return
    pool_ids = [c["id"] for c in configs]
    all_ids = records.select("global_id").distinct()
    old_values = wh.read("record_match_values")
    old_assign = wh.read("cluster_assignments")
    old_pool_assign = old_assign.filter(
        F.col("match_key_config_id").isin(pool_ids)
    )

    # reused frames are persist()ed (recompute-on-loss, fault-tolerant
    # on a real cluster) rather than localCheckpoint()ed; the versioned
    # Warehouse keeps pre-write snapshots readable, so nothing needs
    # eager materialization to survive the commits below
    with _held() as hold:
        if batch_ids is None:
            values = hold(
                truncate_match_values(extract_match_values(records, configs))
            )
            clustered = cluster_all_pools(values, pool_ids)
            # the reference assigns EVERY record a cluster per pool,
            # including records whose matcher produced no values
            # (singleton cluster, empty matchValues — Storage.java:
            # 441-484); CC only covers records with edges, so add the
            # valueless records as self-clusters
            singletons = (
                all_ids.select("global_id", _pools(pool_ids))
                .join(
                    values.select(
                        "global_id", "match_key_config_id"
                    ).distinct(),
                    ["global_id", "match_key_config_id"],
                    "left_anti",
                )
                .withColumn("cluster_id", F.col("global_id"))
            )
            assignments = hold(clustered.unionByName(singletons))
            changed = changed_clusters(old_pool_assign, assignments)
        else:
            # assignments whose record is gone are deleted batch
            # records (see `_local_delta`)
            batch_ids = hold(
                batch_ids.unionByName(
                    old_pool_assign.select("global_id").join(
                        all_ids, "global_id", "left_anti"
                    )
                ).distinct()
            )
            # incremental: re-extract values for the batch only
            new_vals = truncate_match_values(
                extract_match_values(
                    records.join(batch_ids, "global_id", "left_semi"),
                    configs,
                )
            )
            kept_vals = old_values.filter(
                F.col("match_key_config_id").isin(pool_ids)
            ).join(batch_ids, "global_id", "left_anti")
            values = hold(
                kept_vals.unionByName(new_vals.select(*kept_vals.columns))
            )

            affected = hold(
                affected_subgraph(
                    values, old_assign, batch_ids, all_ids, pool_ids
                )
            )
            aff_values = values.join(
                affected, ["global_id", "match_key_config_id"], "left_semi"
            )
            clustered_aff = cluster_all_pools(aff_values, pool_ids)
            # affected-but-valueless records that still exist →
            # self-clusters (the semi join excludes deleted batch ids,
            # which must vanish)
            singletons = (
                affected.join(all_ids, "global_id", "left_semi")
                .join(
                    aff_values.select(
                        "global_id", "match_key_config_id"
                    ).distinct(),
                    ["global_id", "match_key_config_id"],
                    "left_anti",
                )
                .withColumn("cluster_id", F.col("global_id"))
            )
            new_aff = hold(
                clustered_aff.unionByName(
                    singletons.select(*clustered_aff.columns)
                )
            )
            changed = changed_clusters(
                old_pool_assign.join(
                    affected,
                    ["global_id", "match_key_config_id"],
                    "left_semi",
                ),
                new_aff,
            )
            assignments = hold(
                old_pool_assign.join(
                    affected,
                    ["global_id", "match_key_config_id"],
                    "left_anti",
                ).unionByName(new_aff)
            )

        keep_values = old_values.filter(
            ~F.col("match_key_config_id").isin(pool_ids)
        )
        wh.write(
            "record_match_values",
            keep_values.unionByName(values.select(*keep_values.columns)),
        )

        # meta before assignments: a batch replayed after a crash
        # between the two commits still finds its changes in the old
        # assignments, so it bumps and adds the same meta rows again
        old_meta = wh.read("cluster_meta")
        old_pool_meta = old_meta.filter(
            F.col("match_key_config_id").isin(pool_ids)
        )
        new_meta = advance_meta(old_pool_meta, assignments, changed, now)
        keep_meta = old_meta.filter(
            ~F.col("match_key_config_id").isin(pool_ids)
        )
        wh.write("cluster_meta", keep_meta.unionByName(new_meta))

        keep_assign = old_assign.filter(
            ~F.col("match_key_config_id").isin(pool_ids)
        )
        wh.write(
            "cluster_assignments", keep_assign.unionByName(assignments)
        )


def _pools(pool_ids: list[str]) -> Column:
    """One row per pool: explode this over a record frame."""
    return F.explode(F.array(*[F.lit(p) for p in pool_ids])).alias(
        "match_key_config_id"
    )


class _Delta(NamedTuple):
    """A batch's re-clustering, computed on the driver: the rows that
    replace the pools' rows of the affected records."""

    pool_ids: list[str]
    batch: set  # batch global ids; their values in the pools are replaced
    values: list  # (global_id, pool, match_value) of the live batch records
    affected: set  # (global_id, pool) whose assignment is replaced
    assignments: list  # (global_id, pool, cluster_id) of the live affected
    changed_live: set  # (pool, cluster_id): changed and has members
    changed_gone: set  # (pool, cluster_id): changed and now empty


class _TooBig(Exception):
    """The affected subgraph is over the driver bound."""


_SEP = "\x1f"  # cannot occur in pool or record ids

# A key set of up to this many keys filters a plan as one `isin`
# literal list; a larger one is a semi or anti join against a
# broadcast local frame of the keys. The list costs ~0.4 ms a key to
# build and plan (one py4j literal each) and ~43 bytes of plan; the
# frame costs one more Spark job and a flat plan. Writing a 40k-row
# table minus n (pool, record) keys, 4 cores, median of 3, list vs
# frame: n=300 0.76 vs 0.90 s, 1000 0.91 vs 0.70 s, 3000 1.52 vs
# 0.74 s, 10k 4.49 vs 0.86 s (430 KB of plan), 30k 12.2 vs 0.95 s.
_ISIN_MAX_KEYS = 1_000
# Driver rows per task of a `_local_frame`: 10k rows of match values
# made 1.3-1.8 MB tasks, over Spark's 1 MB task-size warning.
_LOCAL_ROWS_PER_TASK = 5_000


def _key(*cols: str) -> Column:
    return F.concat_ws(_SEP, *cols)


def _where(
    df: DataFrame, cols: list[str], keys, keep: bool = True
) -> DataFrame:
    """The rows of ``df`` whose ``cols`` are (``keep``) or are not one
    of ``keys``: scalars for one column, tuples for several. Up to
    ``_ISIN_MAX_KEYS`` keys this is an `isin` filter (several columns
    through their `_key` string), above it a join with a broadcast
    local frame of the keys, so the plan does not grow with them."""
    keys = sorted(set(keys))
    if len(keys) <= _ISIN_MAX_KEYS:
        if len(cols) == 1:
            hit = F.col(cols[0]).isin(keys)
        else:
            strs = [_SEP.join(str(v) for v in k) for k in keys]
            hit = _key(*cols).isin(strs)
        return df.filter(hit if keep else ~hit)
    rows = keys if len(cols) > 1 else [(k,) for k in keys]
    frame = _local_frame(
        df.sparkSession, rows, StructType([df.schema[c] for c in cols])
    )
    how = "left_semi" if keep else "left_anti"
    return df.join(F.broadcast(frame), cols, how).select(*df.columns)


def _local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """A frame of driver-side rows, ``_LOCAL_ROWS_PER_TASK`` a task."""
    slices = 1 + len(rows) // _LOCAL_ROWS_PER_TASK
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), schema
    )


def _local_delta(
    wh: Warehouse, records: DataFrame, configs: list[dict], batch_ids: DataFrame
) -> _Delta | None:
    """Collect the batch's affected subgraph (the closure documented in
    `affected_subgraph`) in a few filtered scans and re-cluster it with
    the union-find `connected_components` uses for small graphs. Each
    collect holds at most ``DRIVER_CC_MAX_EDGES`` rows, and so does the
    edge list; past that, None (the caller runs the Spark path)."""
    limit = clustering.DRIVER_CC_MAX_EDGES
    pool_ids = [c["id"] for c in configs]
    pool = F.col("match_key_config_id")
    gid = F.col("global_id")

    def bounded(df: DataFrame) -> list:
        rows = df.limit(limit + 1).collect()
        if len(rows) > limit:
            raise _TooBig
        return rows

    old_values = wh.read("record_match_values").filter(pool.isin(pool_ids))
    old_assign = wh.read("cluster_assignments").filter(pool.isin(pool_ids))
    try:
        batch = {r[0] for r in bounded(batch_ids.select("global_id"))}
        # records with no assignment in a pool yet, and assignments
        # whose record is gone: a batch replayed after a crash past its
        # global_records commit no longer finds the records it deleted,
        # which the cluster tables still hold; they are deleted batch
        # records again
        loose = bounded(
            records.select("global_id", _pools(pool_ids), F.lit(1).alias("_r"))
            .join(
                old_assign.select(
                    "global_id", "match_key_config_id", F.lit(1).alias("_a")
                ),
                ["global_id", "match_key_config_id"],
                "full_outer",
            )
            .filter(F.col("_r").isNull() | F.col("_a").isNull())
            .select("global_id", "match_key_config_id", "_r")
        )
        unassigned = {(g, p) for g, p, r in loose if r is not None}
        batch |= {g for g, _, r in loose if r is None}
        # the live batch records' new values, and a null-pool marker
        # row per live batch record (deleted ones have neither); these
        # rows grow with the batch's payloads, not with the warehouse
        recs = _where(records, ["global_id"], batch)
        rows = (
            truncate_match_values(extract_match_values(recs, configs))
            .unionByName(
                recs.select(
                    "global_id",
                    F.lit(None).cast("string").alias("match_key_config_id"),
                    F.lit(None).cast("string").alias("match_value"),
                )
            )
            .collect()
        )
        live_batch = {r[0] for r in rows if r[1] is None}
        values = [tuple(r) for r in rows if r[1] is not None]

        # seeds: the batch records, and records sharing a new value
        seeds = {(g, p) for g in batch for p in pool_ids}
        batch_vals = {(p, v) for _, p, v in values}
        if batch_vals:
            for g, p, v in bounded(
                _where(
                    _where(
                        old_values, ["match_value"], {v for _, v in batch_vals}
                    ),
                    ["global_id"],
                    batch,
                    keep=False,
                ).select("global_id", "match_key_config_id", "match_value")
            ):
                if (p, v) in batch_vals:
                    seeds.add((g, p))
        # every member of the seeds' old clusters, with its old cluster
        # (a seed has at most one assignment row)
        seed_clusters = {
            tuple(r)
            for r in _where(
                old_assign,
                ["match_key_config_id", "global_id"],
                [(p, g) for g, p in seeds],
            )
            .select("match_key_config_id", "cluster_id")
            .collect()
        }
        old = {}
        if seed_clusters:
            for g, p, c in bounded(
                _where(
                    old_assign,
                    ["match_key_config_id", "cluster_id"],
                    seed_clusters,
                ).select("global_id", "match_key_config_id", "cluster_id")
            ):
                old[(g, p)] = c
        affected = seeds | old.keys() | unassigned

        # edges: the batch's new values, the others' stored ones
        edges = [((p, g), (p, v)) for g, p, v in values]
        others = [(p, g) for g, p in affected if g not in batch]
        if others:
            edges += [
                ((p, g), (p, v))
                for g, p, v in bounded(
                    _where(
                        old_values,
                        ["match_key_config_id", "global_id"],
                        others,
                    ).select("global_id", "match_key_config_id", "match_value")
                )
            ]
        if len(edges) > limit:
            raise _TooBig
    except _TooBig:
        return None

    # min-label components per pool: nodes and values carry their pool
    label = dict(_driver_components(edges))
    _record_driver_run(len(edges))
    new = {
        (g, p): label[(p, g)][1] if (p, g) in label else g
        for g, p in affected
        if g not in batch or g in live_batch
    }
    changed = set()
    for g, p in affected:
        o, n = old.get((g, p)), new.get((g, p))
        if o != n:
            changed.update((p, c) for c in (o, n) if c is not None)
    live = {(p, c) for (_, p), c in new.items()}
    return _Delta(
        pool_ids=pool_ids,
        batch=batch,
        values=values,
        affected=affected,
        assignments=[(g, p, c) for (g, p), c in new.items()],
        changed_live=changed & live,
        changed_gone=changed - live,
    )


def _write_delta(wh: Warehouse, d: _Delta, now: Column) -> None:
    """Write each pool table as its stored snapshot minus the affected
    keys, plus the delta's rows. A changed cluster's meta row gets
    ``now``; one that lost all members keeps its row (OAI lists it as
    deleted), as `advance_meta` does. ``cluster_meta`` is committed
    before ``cluster_assignments``, as in `recluster_pools`."""

    pool_gid = ["match_key_config_id", "global_id"]
    pool_cluster = ["match_key_config_id", "cluster_id"]
    wh.write(
        "record_match_values",
        _where(
            wh.read("record_match_values"),
            pool_gid,
            [(p, g) for p in d.pool_ids for g in d.batch],
            keep=False,
        ).unionByName(
            _local_frame(wh.spark, d.values, RECORD_MATCH_VALUES_SCHEMA)
        ),
    )
    old = wh.read("cluster_meta")
    live = _local_frame(
        wh.spark,
        [(c, p) for p, c in d.changed_live],
        "cluster_id string, match_key_config_id string",
    )
    wh.write(
        "cluster_meta",
        _where(old, pool_cluster, d.changed_live | d.changed_gone, keep=False)
        .unionByName(
            _where(old, pool_cluster, d.changed_gone).withColumn(
                "datestamp", now
            )
        )
        .unionByName(live.withColumn("datestamp", now)),
    )
    wh.write(
        "cluster_assignments",
        _where(
            wh.read("cluster_assignments"),
            pool_gid,
            [(p, g) for g, p in d.affected],
            keep=False,
        ).unionByName(
            _local_frame(wh.spark, d.assignments, CLUSTER_ASSIGNMENTS_SCHEMA)
        ),
    )


def initialize_pool(wh: Warehouse, config: dict, now=None) -> None:
    """Full rebuild of one pool (reference
    `/config/matchkeys/{id}/initialize`, Storage.java:799-879) — used
    for manual-update pools and after config changes."""
    records = wh.read("global_records")
    recluster_pools(wh, records, [config], now)
