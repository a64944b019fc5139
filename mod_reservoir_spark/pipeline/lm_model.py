"""Persisted n-gram LM models — the serving artifact for the CCNet
fixed-reference path (Wenzek et al. 2020: estimate the model ONCE on a
clean corpus, persist it, score every incoming crawl under it), the
:func:`~mod_reservoir_spark.pipeline.text.write_text_index` /
:func:`~mod_reservoir_spark.pipeline.pq.write_pq_index` symmetry for
language models.

The artifact is ONE table — the prefix-closed window-count frame of
:func:`~mod_reservoir_spark.pipeline.text.ngram_count_tables_combined_n`
(every position's N-window, tails NULL-right-padded, one count row per
distinct window) — plus a one-row meta sidecar (order, strata). Every
per-order count table and every context total the interpolated scorer
needs derives from it by a small aggregation, so persisting N orders
costs ONE parquet table instead of N, and a serving process needs
nothing but the path:

    prefix = build_lm_prefix(clean_docs, order=5)
    write_lm_model(prefix, 5, path)
    ...
    scores = score_under_model(crawl, spark, path, short_docs="backoff")

At 100 TB the prefix table IS the model (the KenLM counting shape):
built in one corpus pass + one map-side-combinable shuffle, written
once, and scoring under it is table-read + bounded-key joins — the
corpus is never re-scanned per order. Layout: ``{path}/prefix/``
(repartitioned on w1 so a hot-prefix read stays parallel, rows sorted
by the full window within files), ``{path}/meta/`` (order + strata).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def build_lm_prefix(
    docs: DataFrame,
    order: int,
    text_col: str = "text",
    strata: tuple[str, ...] = (),
) -> DataFrame:
    """The lazy prefix-closed window-count table: (strata..., w1..wN,
    c) with one row per distinct NULL-right-padded N-window. This is
    the single frame every order's counts derive from; see
    :func:`prefix_tables`."""
    from mod_reservoir_spark.pipeline.spread import spread_input
    from mod_reservoir_spark.pipeline.text import tokens

    if order < 2:
        raise ValueError("order must be >= 2")
    docs = spread_input(docs)
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    padded = F.concat(
        toks, F.array_repeat(F.lit(None).cast("string"), order - 1)
    )
    width = F.size(toks)
    acc = F.transform(
        F.slice(padded, 1, width), lambda a: F.struct(a.alias("w1"))
    )

    def _extend(j):
        return lambda p, c: F.struct(
            *[p[f"w{i}"].alias(f"w{i}") for i in range(1, j)],
            c.alias(f"w{j}"),
        )

    for j in range(2, order + 1):
        acc = F.zip_with(acc, F.slice(padded, j, width), _extend(j))
    cols = [f"w{i}" for i in range(1, order + 1)]
    skeys = list(strata)
    return (
        docs.select(*skeys, F.explode(acc).alias("g"))
        .select(*skeys, *[f"g.{c}" for c in cols])
        .groupBy(*skeys, *cols)
        .agg(F.count("*").cast("long").alias("c"))
    )


def prefix_tables(
    prefix: DataFrame, order: int, strata: tuple[str, ...] = ()
) -> list[DataFrame]:
    """Derive the :func:`~mod_reservoir_spark.pipeline.text.
    ngram_count_tables` list (highest order first, unigrams last) from
    a prefix table: order k = the rows whose wk IS NOT NULL grouped by
    the k-prefix (order N needs no regroup — its non-NULL rows are
    exact). Counts are exactly the per-order builder's
    (equality-pinned in tests/test_lm_model.py).

    ``order``/``strata`` must describe the frame: a mismatched order
    or a stratum column the prefix does not carry would silently
    derive wrong tables, so both are validated against the prefix's
    columns up front."""
    skeys = list(strata)
    expected = set(skeys) | {f"w{i}" for i in range(1, order + 1)} | {"c"}
    if set(prefix.columns) != expected:
        raise ValueError(
            f"prefix columns {sorted(prefix.columns)} do not match "
            f"order={order}, strata={tuple(strata)} "
            f"(expected {sorted(expected)})"
        )
    tables: list[DataFrame] = []
    for k in range(order, 1, -1):
        kcols = [f"w{i}" for i in range(1, k + 1)]
        t = prefix.filter(F.col(f"w{k}").isNotNull())
        if k == order:
            tables.append(t.select(*skeys, *kcols, "c"))
        else:
            tables.append(
                t.groupBy(*skeys, *kcols).agg(
                    F.sum("c").cast("long").alias("c")
                )
            )
    tables.append(
        prefix.groupBy(*skeys, F.col("w1").alias("term")).agg(
            F.sum("c").cast("long").alias("ctf")
        )
    )
    return tables


def write_lm_model(
    prefix: DataFrame,
    order: int,
    path: str,
    strata: tuple[str, ...] = (),
) -> None:
    """Persist the model: ``{path}/prefix/`` holds the window counts
    (repartitioned on w1 for parallel reads, window-sorted within
    files), ``{path}/meta/`` one row (order, strata csv). Overwrites —
    re-estimating a reference model is a full replace, never a merge
    (a moving reference breaks replay downstream; the streaming fold
    in streaming/lm_stream.py is the maintained-counts face).
    ``order``/``strata`` are validated against the frame's columns —
    a desynced meta sidecar would make every later read derive wrong
    tables."""
    cols = [f"w{i}" for i in range(1, order + 1)]
    expected = set(strata) | set(cols) | {"c"}
    if set(prefix.columns) != expected:
        raise ValueError(
            f"prefix columns {sorted(prefix.columns)} do not match "
            f"order={order}, strata={tuple(strata)}"
        )
    (
        prefix.repartition(F.col("w1"))
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(f"{path}/prefix")
    )
    # n_windows (the persisted prefix's row count — read back from the
    # just-written parquet, a metadata-only count) drives the serving
    # scorer's broadcast-vs-merge join decision: Spark's own size
    # estimate for the derived count tables is NOT trustworthy at
    # scale (text.py _table_side / SCALE.md r10)
    spark = prefix.sparkSession
    n_windows = spark.read.parquet(f"{path}/prefix").count()
    spark.createDataFrame(
        [(order, ",".join(strata), n_windows)],
        "order int, strata string, n_windows long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _read_model(
    spark: SparkSession, path: str, want_n_windows: bool = True
) -> tuple[DataFrame, int, tuple[str, ...], int | None]:
    """One meta collect per call (ADVICE r10: the serving path used to
    read + collect the sidecar twice — read_lm_model then a separate
    _model_n_windows — two extra driver round-trips per score).
    n_windows comes from the same collected row when present (written
    since r10); for pre-r10 models it is a metadata-only parquet count
    of the prefix, paid ONLY when the caller asked for it
    (``want_n_windows`` — ADVICE r11: read_lm_model / lm_model_tables
    discard n_windows, so they must never pay the fallback count job).
    Returns n_windows=None when not wanted and not in the sidecar."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    strata = tuple(s for s in meta.strata.split(",") if s)
    prefix = spark.read.parquet(f"{path}/prefix")
    if "n_windows" in meta.__fields__:
        n_windows = int(meta.n_windows)
    else:
        n_windows = prefix.count() if want_n_windows else None
    return prefix, int(meta.order), strata, n_windows


def read_lm_model(
    spark: SparkSession, path: str
) -> tuple[DataFrame, int, tuple[str, ...]]:
    """(prefix, order, strata) back from :func:`write_lm_model` — the
    prefix frame stays lazy (column-pruned, parallel parquet scan); no
    Spark job runs even for a pre-r10 model without sidecar
    n_windows."""
    prefix, order, strata, _ = _read_model(spark, path, want_n_windows=False)
    return prefix, order, strata


def lm_model_tables(spark: SparkSession, path: str) -> list[DataFrame]:
    """Read + derive in one call: the count-table list a scorer
    takes."""
    prefix, order, strata = read_lm_model(spark, path)
    return prefix_tables(prefix, order, strata)


def score_under_model(
    docs: DataFrame,
    spark: SparkSession,
    path: str,
    text_col: str = "text",
    lambdas_ppm: tuple[int, ...] | None = None,
    oov_ppm: int = 1,
    short_docs: str = "backoff",
    smoothing: str = "jm",
    discounts_ppm: int | tuple[int, ...] | None = None,
) -> DataFrame:
    """Score documents under a persisted reference model — the whole
    CCNet serving path in one call. ``short_docs`` defaults to
    ``"backoff"`` here (unlike the raw scorer's historical
    ``"zero"``): a persisted-reference deployment is the production
    shape, and production KenLM never exempts short docs. Strata
    recorded at write time are honored automatically (docs must carry
    those columns).

    ``smoothing``: ``"jm"`` (Jelinek-Mercer interpolation, weights via
    ``lambdas_ppm``) or ``"kn"`` (interpolated Kneser-Ney — the actual
    KenLM arithmetic, discounts via ``discounts_ppm``). One persisted
    prefix artifact serves both: every count either smoothing needs
    derives from it (continuation counts are distinct-row counts over
    the same derived tables)."""
    from mod_reservoir_spark.pipeline.text import (
        LM_BROADCAST_MAX_WINDOWS,
        kn_logprob_against,
        ngram_logprob_against,
    )

    if smoothing not in ("jm", "kn"):
        raise ValueError(f"smoothing must be jm|kn, got {smoothing}")
    prefix, order, strata, n_windows = _read_model(spark, path)
    tables = prefix_tables(prefix, order, strata)
    # join strategy from the MODEL's recorded size, never Spark's
    # estimate (text.py _table_side: the estimate mis-broadcasts
    # corpus-sized tables at scale)
    bcast = n_windows <= LM_BROADCAST_MAX_WINDOWS
    if smoothing == "kn":
        if lambdas_ppm is not None:
            raise ValueError("lambdas_ppm is a jm parameter; kn takes "
                             "discounts_ppm")
        return kn_logprob_against(
            docs,
            tables,
            text_col=text_col,
            discounts_ppm=discounts_ppm,
            oov_ppm=oov_ppm,
            strata=strata,
            short_docs=short_docs,
            broadcast_tables=bcast,
        )
    if discounts_ppm is not None:
        raise ValueError("discounts_ppm is a kn parameter; jm takes "
                         "lambdas_ppm")
    return ngram_logprob_against(
        docs,
        tables,
        text_col=text_col,
        lambdas_ppm=lambdas_ppm,
        oov_ppm=oov_ppm,
        strata=strata,
        short_docs=short_docs,
        broadcast_tables=bcast,
    )
