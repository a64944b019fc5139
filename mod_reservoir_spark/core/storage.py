"""Warehouse: parquet-backed canonical tables + mutation semantics.

The reference mutates row-at-a-time inside Postgres transactions
(upsert `INSERT .. ON CONFLICT .. DO UPDATE`, Storage.java:208-224;
delete with datestamp bump, :226-240; bulk CQL delete with the
NOT-EXISTS sibling-version guard, :571-599). A batch engine re-expresses
each as a deterministic snapshot transformation; counters (inserted /
updated / deleted / ignored) come from snapshot diffs, not per-row
return values (SURVEY.md §7 risk 2).

Physical layout: ``global_records`` is written partitioned by
``source_id`` — ingest and delete are per-source, so both prune to one
partition. The cluster tables are written as their rows come, with no
repartitioning. Every write is a commit: it lands in a fresh version
directory and becomes visible through one atomic pointer swap
(``Warehouse``), so a failed write leaves the previous snapshot whole.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mod_reservoir_spark.core.model import TABLE_SCHEMAS

NATURAL_KEY = ["local_id", "source_id", "source_version"]


def normalize_source_ids(df: DataFrame) -> DataFrame:
    """Uppercase + validate source ids (reference util/.../SourceId.java:
    6-23: `^[a-zA-Z0-9:/-]{1,16}$`, uppercased). Invalid ids raise at
    action time via ANSI raise_error — same contract as the reference's
    400 response."""
    from mod_reservoir_spark.core.model import SOURCE_ID_PATTERN

    validated = F.when(
        F.col("source_id").rlike(SOURCE_ID_PATTERN),
        F.upper(F.col("source_id")),
    ).otherwise(
        F.raise_error(
            F.concat(F.lit("invalid sourceId: "), F.col("source_id"))
        )
    )
    return df.withColumn("source_id", validated)

NAMESPACE = uuid.UUID("6ba7b810-9dad-11d1-80b4-00c04fd430c8")  # uuid5 ns


def deterministic_global_id() -> F.Column:
    """Stable record id from the natural key — deterministic across
    re-ingest (the reference assigns random UUIDs at insert; determinism
    is required for idempotent batch re-execution)."""
    return F.md5(F.concat_ws("", *NATURAL_KEY))


class Warehouse:
    """Versioned snapshot-table store over a directory of parquet
    tables — atomic commits without a table format.

    Each write lands in a fresh ``<table>/_v<N>`` directory; the commit
    is a single ``os.replace`` of the ``_CURRENT`` pointer file (atomic
    on POSIX, and the same pointer-swap pattern a cloud deployment
    implements with a conditional PUT). Readers resolve the pointer, so
    a crash mid-write leaves the previous snapshot intact and already-
    built lazy plans keep reading the version they bound to (in-place
    overwrite invalidated them — the round-1 localCheckpoint
    workaround). The two newest versions are retained for in-flight
    readers; older ones are garbage-collected on commit. A production
    cluster would use Delta/Iceberg (jars absent here) for multi-writer
    commits and MERGE; the reader/writer contract is identical.

    Legacy layout (parquet files directly under ``<table>/``) is still
    readable, so pre-versioning warehouse dirs keep working.
    """

    KEEP_VERSIONS = 2

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self.path(table), "_CURRENT")

    def current_version(self, table: str) -> int | None:
        try:
            with open(self._pointer(table)) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def _data_path(self, table: str) -> str | None:
        v = self.current_version(table)
        if v is not None:
            return os.path.join(self.path(table), f"_v{v}")
        # legacy unversioned layout
        p = self.path(table)
        if os.path.exists(p) and any(
            not e.startswith("_v") and e != "_CURRENT"
            for e in os.listdir(p)
        ):
            return p
        return None

    def exists(self, table: str) -> bool:
        return self._data_path(table) is not None

    def read(self, table: str) -> DataFrame:
        p = self._data_path(table)
        if p is None:
            return self.spark.createDataFrame([], TABLE_SCHEMAS[table])
        return self.spark.read.parquet(p)

    def write(self, table: str, df: DataFrame, partition_by: list[str] | None = None):
        prev = self.current_version(table)
        nxt = (prev or 0) + 1
        target = os.path.join(self.path(table), f"_v{nxt}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(target)
        tmp = self._pointer(table) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(nxt))
        os.replace(tmp, self._pointer(table))  # the atomic commit
        self._gc(table, nxt)

    def _gc(self, table: str, current: int) -> None:
        import shutil

        for entry in os.listdir(self.path(table)):
            if not entry.startswith("_v"):
                continue
            try:
                v = int(entry[2:])
            except ValueError:
                continue
            if v <= current - self.KEEP_VERSIONS:
                shutil.rmtree(
                    os.path.join(self.path(table), entry), ignore_errors=True
                )


def upsert_records(
    existing: DataFrame, incoming: DataFrame, now=None
) -> tuple[DataFrame, dict]:
    """Natural-key upsert (reference Storage.java:208-224):
    `(local_id, source_id, source_version)` unique; conflict replaces
    payload. Last write in the incoming batch wins (the reference
    processes records in arrival order; we take the last per key via a
    window over ingest order).

    Returns (new snapshot, {"inserted": n, "updated": n}).

    Ingest does not call it: ``ingest_batch`` runs `_upsert` and folds
    these counts into its own batch stats, or upserts a small batch on
    the driver. It stays the one-call upsert, and the name the
    benchmark's ``storage.upsert`` span wraps, which therefore reads 0
    for every ingest batch.
    """
    merged, flagged = _upsert(existing, incoming, now)
    row = flagged.agg(
        F.count_if(F.col("_had").isNull()).alias("inserted"),
        F.count_if(F.col("_had").isNotNull()).alias("updated"),
    ).first()
    return merged, {"inserted": row["inserted"], "updated": row["updated"]}


def _upsert(
    existing: DataFrame, incoming: DataFrame, now=None
) -> tuple[DataFrame, DataFrame]:
    """The plan of ``upsert_records`` without its counts: (new
    snapshot, the incoming rows kept per key with ``_had`` true where
    the key was already stored and null where it is new)."""
    now = now if now is not None else F.current_timestamp()
    inc = incoming.withColumn(
        "_ord", F.monotonically_increasing_id()
    )
    w = Window.partitionBy(*NATURAL_KEY).orderBy(F.col("_ord").desc())
    inc = (
        inc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_ord")
        .withColumn("global_id", deterministic_global_id())
        .withColumn("updated_at", now)
    )
    prev_keys = existing.select(*NATURAL_KEY).withColumn("_had", F.lit(True))
    flagged = inc.join(prev_keys, NATURAL_KEY, "left")
    merged = existing.join(
        inc.select(*NATURAL_KEY), NATURAL_KEY, "left_anti"
    ).unionByName(inc.select(*existing.columns))
    return merged, flagged


def delete_records(
    existing: DataFrame, cql: str | None = None, keys: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Delete by CQL predicate or by natural-key frame.

    Returns (new snapshot, deleted rows) — the deleted frame feeds the
    cluster datestamp bump (every mutation bumps affected clusters,
    reference Storage.java:226-240, 571-599).
    """
    from mod_reservoir_spark.operators.clusters import RECORD_FIELDS
    from mod_reservoir_spark.plans.cql import parse_cql

    if cql is not None:
        pred = parse_cql(cql).to_column(RECORD_FIELDS)
        deleted = existing.filter(pred)
        kept = existing.filter(~pred)
    elif keys is not None:
        deleted = existing.join(keys, NATURAL_KEY, "left_semi")
        kept = existing.join(keys, NATURAL_KEY, "left_anti")
    else:
        raise ValueError("need cql or keys")
    return kept, deleted


def clusters_fully_deleted(
    deleted: DataFrame, kept: DataFrame, assignments: DataFrame
) -> DataFrame:
    """The reference's NOT-EXISTS guard (Storage.java:578-586): a
    version-scoped delete only counts a cluster as deleted when no
    other source_version of any member record survives. Expressed as a
    left_anti join of the deleted records' clusters against clusters
    that still own surviving records."""
    deleted_clusters = assignments.join(
        deleted.select("global_id"), "global_id", "left_semi"
    ).select("cluster_id", "match_key_config_id").distinct()
    surviving_clusters = assignments.join(
        kept.select("global_id"), "global_id", "left_semi"
    ).select("cluster_id", "match_key_config_id").distinct()
    return deleted_clusters.join(
        surviving_clusters,
        ["cluster_id", "match_key_config_id"],
        "left_anti",
    )
