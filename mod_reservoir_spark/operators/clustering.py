"""Connected-component clustering — the engine's signature operator.

The reference clusters records that share any match key via an
incremental per-record union-find inside a Postgres transaction
(reference server/.../Storage.java:363-522: lookup clusters owning a
key, join/create, merge losers into winner). The final fixpoint of that
process equals **connected components of the bipartite graph
records ↔ match-values** (merge = component union; pinned by
MainVerticleTest.testClustersMove:1405-1569 — clustering is per
matchkey pool).

Spark-first re-expression: a batch min-label propagation over the
bipartite edge table, alternating value-side and record-side min
aggregations until fixpoint. Per iteration:

    value_min(v)  = min over edges of comp(record)        (1 shuffle)
    comp(record)  = min over edges of value_min(v)        (1 shuffle)

Both aggregations have map-side partial aggregation (HashAggregate),
so hot match values (the skew case — e.g. a blank-ish key shared by
millions of records) reduce locally before the shuffle. A pointer-
jumping step (comp∘comp, label-path halving) makes convergence
O(log diameter) rounds; metadata match graphs are shallow (records
sharing identifier-like keys), typically 2-4 iterations. Each iteration ends in localCheckpoint() to truncate
lineage — without it the plan doubles per iteration and the DAG
scheduler dominates at scale.

Cluster identity: deterministic ``min(global_id)`` per component
instead of the reference's path-dependent UUID-with-merge-history.
Deviation documented in SURVEY.md §7 risk 1: we reproduce the
observable invariants (membership sets, datestamp monotonicity), not
UUID lineage — a batch engine must be deterministic under re-execution.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

from mod_reservoir_spark.core.model import MATCHVALUE_MAX_LENGTH

__all__ = [
    "truncate_match_values",
    "connected_components",
    "cluster_pool",
    "cluster_all_pools",
]


def truncate_match_values(df: DataFrame, col: str = "match_value") -> DataFrame:
    """Reproduce the reference's 600-char truncation of match values
    (Storage.java:62,356-361) — long keys still cluster, on their prefix."""
    return df.withColumn(col, F.substring(F.col(col), 1, MATCHVALUE_MAX_LENGTH))


# telemetry of the most recent connected_components run in this
# process (+ cumulative run/iteration counters) — see the update site
# in connected_components and the bench.py sidecar
LAST_RUN_STATS: dict = {}

# Graphs at or below this many edge rows are solved on the DRIVER
# (collect + union-find) instead of the iterative min-label loop: the
# distributed fixpoint pays 4+ full Spark jobs (seed, per-iteration
# checkpoint + convergence count) of pure scheduling overhead that
# dwarfs the data work on small graphs — and near-dup PAIR graphs are
# small relative to their corpus by construction (seconds per funnel
# run at bench scale, guide §1.2 "don't pay shuffles the data doesn't
# need"). The gate is one bounded collect of at most max + 1 edge
# rows, so a small graph costs one action; a larger one then runs the
# iterative path (the MAX_BROADCAST_QUERIES cutover pattern), which
# computes the edge plan once more for its persist + count — one extra
# pass (with the dedupe shuffle) in front of several iterations over
# the same edges. 100k edge rows collect to ~10 MB — far under any
# driver limit. Incremental re-clustering (streaming/ingest.py) uses
# the same bound for the affected subgraph it collects.
DRIVER_CC_MAX_EDGES = 100_000


def _driver_components(rows) -> list[tuple]:
    """Exact min-label connected components of collected (node, value)
    edge rows via union-find with path halving. Returns (node, label)
    pairs — label = min node per component under the same ordering the
    distributed path's F.min uses (numeric for numbers; Python string
    order = code-point order = UTF-8 binary order, so string labels
    match too)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    owner: dict = {}
    for n, v in rows:
        if n not in parent:
            parent[n] = n
        o = owner.get(v)
        if o is None:
            owner[v] = n
        else:
            ra, rb = find(o), find(n)
            if ra != rb:
                parent[rb] = ra
    label: dict = {}
    for x in parent:
        r = find(x)
        cur = label.get(r)
        if cur is None or x < cur:
            label[r] = x
    return [(x, label[find(x)]) for x in parent]


def connected_components(
    edges: DataFrame,
    node_col: str = "global_id",
    value_col: str = "match_value",
    component_col: str = "cluster_id",
    max_iterations: int = 50,
    on_nonconverged: str = "raise",
    dedupe_edges: bool = True,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """Components of the bipartite node↔value graph.

    Input: one row per (node, value) edge (duplicates fine).
    Output: one row per distinct node with its component id
    (= min node id in the component, a deterministic stable label).

    Scale notes: both per-iteration aggregations partial-aggregate
    map-side; AQE coalesces the small tail as the frontier shrinks.
    CONVERGENCE BOUND: each iteration moves labels two hops
    (node→value→node); from round 4 it ALSO composes comp(comp(n))
    (adaptive pointer jumping — label paths halve), so convergence
    is O(log diameter) rounds while shallow star graphs never pay
    the extra self-join.
    Match-key graphs are star-shaped (records sharing values) and
    converge in 2-3; a pathological CHAIN — records linked pairwise
    through distinct values, the testClustersMove topology at scale —
    needs ~log2(diameter) rounds (a 1000-node chain converges in ~10,
    pinned by test). Hitting ``max_iterations`` without convergence
    RAISES by default (``on_nonconverged="raise"``): a truncated run
    has SPLIT components — silently wrong clusters downstream;
    ``on_nonconverged="warn"`` opts into the partial labels. Each run
    logs nodes/edges/iterations so drift toward the bound is visible
    in executor-driver logs before it becomes a failure.

    ``dedupe_edges``: the min aggregations are idempotent, so duplicate
    (node, value) edges never change the labels — the up-front
    ``dropDuplicates`` is purely a size/perf trade (one extra full
    shuffle now vs. fatter edge joins every iteration). Callers whose
    edges are distinct by construction (the dedup pair graph, the
    synthetic pool edges) pass False and skip that shuffle outright
    (guide §2.4: remove shuffles the data doesn't need); edge-heavy
    dirty inputs keep the default. ``LAST_RUN_STATS['edges']`` then
    reports raw rows, not distinct edges.

    ``driver_max_edges`` (None → ``DRIVER_CC_MAX_EDGES``): graphs at or
    below this measured edge count are solved exactly on the driver
    (r13 — union-find over the collected edge rows, min-label
    identical to the fixpoint; equivalence pinned in tests) instead of
    paying the iterative loop's per-round job overhead. 0 forces the
    iterative path (the telemetry probes do — they exist to measure
    it). Edges carrying a NULL node or value fall back to the
    iterative path, whose join/aggregate null semantics are the
    contract. ``LAST_RUN_STATS`` reports ``iterations=0`` and
    ``path="driver"`` for fast-path runs.
    """
    if driver_max_edges is None:
        driver_max_edges = DRIVER_CC_MAX_EDGES
    e = edges.select(
        F.col(node_col).alias("_n"), F.col(value_col).alias("_v")
    )
    if dedupe_edges:
        e = e.dropDuplicates(["_n", "_v"])

    if driver_max_edges > 0:
        # one action: at most max + 1 rows reach the driver, and more
        # than max of them sends the graph down the iterative path
        rows = [(r[0], r[1]) for r in e.limit(driver_max_edges + 1).collect()]
        if len(rows) <= driver_max_edges and all(
            n is not None and v is not None for n, v in rows
        ):
            from pyspark.sql.types import StructField, StructType

            ntype = e.schema[0].dataType
            out = edges.sparkSession.createDataFrame(
                _driver_components(rows),
                StructType(
                    [
                        StructField(node_col, ntype),
                        StructField(component_col, ntype),
                    ]
                ),
            )
            _record_driver_run(len(rows))
            return out
    LAST_RUN_STATS.pop("path", None)
    e = e.persist()
    try:
        return _iterative_components(
            e, node_col, component_col, max_iterations, on_nonconverged
        )
    finally:
        e.unpersist()


def _record_driver_run(n_edges: int) -> None:
    """Telemetry of a run solved by ``_driver_components``."""
    logging.getLogger(__name__).info(
        "connected_components: %d edges, driver union-find path", n_edges
    )
    LAST_RUN_STATS.update(
        edges=n_edges,
        iterations=0,
        converged=True,
        path="driver",
        runs=LAST_RUN_STATS.get("runs", 0) + 1,
        total_iterations=LAST_RUN_STATS.get("total_iterations", 0),
    )


def _iterative_components(
    e: DataFrame,
    node_col: str,
    component_col: str,
    max_iterations: int,
    on_nonconverged: str,
) -> DataFrame:
    """The distributed min-label fixpoint over the persisted (_n, _v)
    edge frame ``e``; the caller releases ``e``."""
    log = logging.getLogger(__name__)
    n_edges = e.count()  # also materializes the cache before the loop
    # Seed with the first hop unrolled: comp(n) = min over n's values of
    # the value's min node (with identity labels the first loop pass
    # computes exactly this, so seeding saves one full iteration —
    # star-shaped components, the common case for match keys, then
    # converge in the single confirming pass).
    vmin0 = e.groupBy("_v").agg(F.min("_n").alias("_vc"))
    comp = (
        e.join(vmin0, "_v")
        .groupBy("_n")
        .agg(F.min("_vc").alias("_c"))
        .localCheckpoint(eager=True)
    )

    converged = False
    iterations = 0
    for iterations in range(1, max_iterations + 1):
        # value label = min component among incident records
        vmin = (
            e.join(comp, "_n")
            .groupBy("_v")
            .agg(F.min("_c").alias("_vc"))
        )
        # record label = min(own, min incident value label); the SAME
        # join against comp also yields the change flag — the old
        # shape joined comp twice (once for least(), once for the
        # _prev comparison), one whole exchange per iteration for a
        # comparison the first join already had in hand (guide §2.4).
        # least(_nc, _c) < _c ⇔ _nc < _c, so _chg falls out directly.
        stepped = (
            e.join(vmin, "_v")
            .groupBy("_n")
            .agg(F.min("_vc").alias("_nc"))
            .join(comp, "_n")
            .select(
                "_n",
                F.least("_nc", "_c").alias("_c"),
                (F.col("_nc") < F.col("_c")).alias("_chg"),
            )
        )
        # pointer jumping (label-path halving): a label IS a node id
        # in the same component, so comp(comp(n)) is a valid label
        # and ≤ the current one — composing it makes convergence
        # O(log diameter) on chains instead of O(diameter/2) from
        # min-label alone (the testClustersMove chain topology at
        # scale). ADAPTIVE: engaged only after round 3 — star graphs,
        # the match-key common case, converge in 1-2 rounds and must
        # not pay the extra self-join (bench-measured: unconditional
        # jumping cost cluster_cc +0.9 s and the curate funnel +4 s
        # at sf0.1 for zero saved rounds); still in time for a long
        # chain, which reaches fixpoint ~3 rounds after engaging.
        # A jump that lowers the label (_jc < _c) is itself a change:
        # _c ≤ prev label always, so least(_c, _jc) < prev ⇔
        # _chg ∨ (_jc < _c).
        if iterations > 3:
            new_comp = stepped.join(
                stepped.select(
                    F.col("_n").alias("_jn"), F.col("_c").alias("_jc")
                ),
                F.col("_c") == F.col("_jn"),
                "left",
            ).select(
                "_n",
                F.least("_c", "_jc").alias("_c"),
                (
                    F.col("_chg")
                    | (F.col("_jc") < F.col("_c"))
                ).alias("_chg"),
            )
        else:
            new_comp = stepped
        new_comp = new_comp.localCheckpoint(eager=True)
        changed = new_comp.filter(F.col("_chg")).limit(1).count()
        comp = new_comp.select("_n", "_c")
        if changed == 0:
            converged = True
            break
    log.info(
        "connected_components: %d edges, converged=%s in %d iteration(s)"
        " (max %d)",
        n_edges,
        converged,
        iterations,
        max_iterations,
    )
    # machine-readable telemetry (VERDICT r6 "Next #10"): bench.py
    # snapshots these into its CC sidecar so edges/iterations are
    # tracked round-over-round like timings; per-process counters,
    # no locking needed (one driver)
    LAST_RUN_STATS.update(
        edges=n_edges,
        iterations=iterations,
        converged=converged,
        runs=LAST_RUN_STATS.get("runs", 0) + 1,
        total_iterations=LAST_RUN_STATS.get("total_iterations", 0)
        + iterations,
    )
    if not converged:
        msg = (
            f"connected_components did not converge after "
            f"{max_iterations} iterations over {n_edges} edges — the "
            f"graph has chains longer than ~2^{max_iterations} hops "
            f"and the returned labels would SPLIT components. Raise "
            f"max_iterations (iterations ≈ log2(diameter)), or pass "
            f"on_nonconverged='warn' to accept partial labels."
        )
        if on_nonconverged == "warn":
            log.warning(msg)
        else:
            raise RuntimeError(msg)
    return comp.select(
        F.col("_n").alias(node_col), F.col("_c").alias(component_col)
    )


def adversarial_cc_telemetry(spark, n: int = 1024) -> dict:
    """Run connected_components over a worst-case PATH graph (records
    linked pairwise through distinct values — the reference's
    testClustersMove topology at scale) and return its telemetry plus
    an exactness check. The real match-key graphs the bench drives are
    star-shaped and converge in 1 round, so CC_TELEMETRY's
    iteration-bound claim was vacuous (VERDICT r9 Next #8); this run
    exercises the O(log diameter) pointer-jumping path for real: an
    ``n``-node chain needs ~log2(n) rounds, and the returned dict
    records whether the labels reached the EXACT fixpoint (one
    component, min-id label 0) — the honesty check, since a truncated
    run returns silently split components."""
    rows = []
    for i in range(n - 1):
        rows.append((i, f"v{i}"))
        rows.append((i + 1, f"v{i}"))
    edges = spark.createDataFrame(
        rows, "global_id long, match_value string"
    ).repartition(8)
    # driver_max_edges=0: this probe exists to MEASURE the iterative
    # pointer-jumping path; the small-graph driver fast path would
    # solve it in 0 iterations and make the bound vacuous
    labels = connected_components(
        edges, driver_max_edges=0
    ).groupBy("cluster_id").count()
    got = labels.collect()
    exact = len(got) == 1 and got[0].cluster_id == 0 and got[0]["count"] == n
    return {
        "topology": f"path-{n}",
        "edges": LAST_RUN_STATS["edges"],
        "iterations": LAST_RUN_STATS["iterations"],
        "converged": LAST_RUN_STATS["converged"],
        "exact_fixpoint": exact,
    }


def hub_cc_telemetry(
    spark, hub: int = 100_000, pools: int = 1000, pool_size: int = 5
) -> dict:
    """Run connected_components over a SKEWED-HUB graph and return
    telemetry including the peak per-value fan-out (VERDICT r10 Next
    #4: the 100 TB clustering risk is skew, not diameter — one hot
    match_value, a blank ISBN or default title shared by 10⁵ records,
    concentrates that key's edges in one task of every per-value
    aggregation and join).

    Topology: ONE value shared by ``hub`` records plus ``pools``
    background stars of ``pool_size`` records each — the realistic
    shape where a dirty default key coexists with normal pools. Built
    with ``spark.range`` (no driver-side row list at 10⁵ scale).

    Why min-label CC tolerates the hub WITHOUT salting: both
    per-iteration aggregations (value-min and node-min) partial-
    aggregate map-side, so the hub key leaves each map task as ONE
    row regardless of fan-out; the remaining skew point is the
    ``e.join(vmin, "_v")`` edge join, where the hub key's edges land
    in one task — linear work in hub size, and past AQE's
    skewedPartitionThreshold the sort-merge partition is split at
    runtime. The returned ``hub_fanout``/``seconds`` make that
    argument MEASURED per round (bench sidecar) instead of argued;
    if seconds ever degrades superlinearly vs hub size, the standard
    fix is salting the hub key in the star iterations.

    Exactness: the hub forms one component labeled 0 with ``hub``
    members; each background star keeps its own min-id label — all
    verified, since a skew-induced truncation would silently split
    components."""
    import time as _time

    hub_edges = spark.range(hub).select(
        F.col("id").alias("global_id"), F.lit("hub").alias("match_value")
    )
    bg = spark.range(pools * pool_size).select(
        (F.lit(hub) + F.col("id")).alias("global_id"),
        F.concat(
            F.lit("bg"), F.floor(F.col("id") / pool_size)
        ).alias("match_value"),
    )
    edges = hub_edges.unionByName(bg).repartition(8)
    fanout = (
        edges.groupBy("match_value")
        .count()
        .agg(F.max("count").alias("m"))
        .collect()[0]
        .m
    )
    t0 = _time.time()
    # materialize the CC output INSIDE the timed window and verify
    # from the materialized frame outside it — previously `seconds`
    # was stamped after the verification groupBy/collect, so the
    # round-over-round "CC time vs hub size" signal silently included
    # verification job time (ADVICE r11)
    # driver_max_edges=0: measure the DISTRIBUTED skew behavior
    labels = connected_components(
        edges, driver_max_edges=0
    ).localCheckpoint()
    seconds = round(_time.time() - t0, 2)
    sizes = {
        r.cluster_id: r["count"]
        for r in labels.groupBy("cluster_id").count().collect()
    }
    exact = (
        len(sizes) == pools + 1
        and sizes.get(0) == hub
        and all(
            sizes.get(hub + p * pool_size) == pool_size
            for p in range(pools)
        )
    )
    return {
        "topology": f"hub-{hub}+{pools}x{pool_size}",
        "edges": LAST_RUN_STATS["edges"],
        "hub_fanout": int(fanout),
        "iterations": LAST_RUN_STATS["iterations"],
        "converged": LAST_RUN_STATS["converged"],
        "exact_fixpoint": exact,
        "seconds": seconds,
    }


def cluster_pool(
    match_values: DataFrame,
    match_key_config_id: str,
    node_col: str = "global_id",
    value_col: str = "match_value",
) -> DataFrame:
    """Cluster one pool: filter the edge table to the pool, truncate
    values, run CC. Returns (global_id, match_key_config_id, cluster_id).
    """
    edges = truncate_match_values(
        match_values.filter(
            F.col("match_key_config_id") == match_key_config_id
        ),
        value_col,
    )
    assignments = connected_components(edges, node_col, value_col)
    return assignments.select(
        node_col,
        F.lit(match_key_config_id).alias("match_key_config_id"),
        "cluster_id",
    )


def cluster_all_pools(
    match_values: DataFrame,
    pool_ids: list[str] | None = None,
    dedupe_edges: bool = True,
) -> DataFrame:
    """Cluster every pool present in the edge table.

    Pools are independent (per-matchkey clustering, SURVEY.md §2.7) so
    a single CC run over pool-qualified nodes/values computes all of
    them at once — one iteration loop, not one per pool. Node and value
    ids are namespaced with the pool id so components never bridge
    pools.
    """
    mv = truncate_match_values(match_values)
    if pool_ids is not None:
        mv = mv.filter(F.col("match_key_config_id").isin(pool_ids))
    # \\x1f (unit separator) cannot occur in pool ids or record ids;
    # match values may contain anything, so the value side splits with
    # limit=2. Component ids inherit the pool prefix (min is per-pool).
    sep = "\x1f"
    qualified = mv.select(
        F.concat_ws(sep, "match_key_config_id", "global_id").alias("qn"),
        F.concat_ws(sep, "match_key_config_id", "match_value").alias("qv"),
    )
    comp = connected_components(
        qualified, "qn", "qv", "qc", dedupe_edges=dedupe_edges
    )
    split_n = F.split(F.col("qn"), sep, 2)
    split_c = F.split(F.col("qc"), sep, 2)
    return comp.select(
        split_n.getItem(1).alias("global_id"),
        split_n.getItem(0).alias("match_key_config_id"),
        split_c.getItem(1).alias("cluster_id"),
    )
