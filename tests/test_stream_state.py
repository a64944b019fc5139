"""The streaming state format (mod_reservoir_spark/streaming/state.py)
driven directly, without starting a stream: partitions are written with
``commit`` and crashes are simulated by leaving the directories a
crashed commit or compaction leaves behind."""

import os

import pytest
from pyspark.sql import functions as F

from mod_reservoir_spark.streaming import state
from mod_reservoir_spark.streaming.curate_stream import (
    compact_curate_state,
    read_curate_state,
)
from mod_reservoir_spark.streaming.windowed import (
    _held,
    compact_simhash_dedup_state,
    read_simhash_dedup_state,
)

KV = "k long, v string"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _keep_latest(df):
    return df.groupBy("k").agg(
        F.max(F.struct("batch", "v")).alias("_m")
    ).select("k", "_m.v")


def _commit_all(spark, root, batches):
    for batch_id, rows in batches:
        state.commit(spark.createDataFrame(rows, KV), root, batch_id)


def test_compact_restores_stranded_old_compact(spark, tmp_path):
    """A crash between setting the old batch=-1 aside and renaming the
    new one in leaves ``.old-compact`` and no ``batch=-1``; a crash
    while staging leaves ``.staging-compact``. The next compaction
    restores the set-aside partition, clears the leftovers, and folds
    to the rows of a compaction that never crashed."""
    first = [(0, [(1, "a"), (2, "b")]), (1, [(2, "c")])]
    later = [(2, [(1, "d"), (3, "e")])]

    clean = str(tmp_path / "clean")
    _commit_all(spark, clean, first)
    assert state.compact(spark, clean, _keep_latest) == (2, 2)
    _commit_all(spark, clean, later)
    assert state.compact(spark, clean, _keep_latest) == (3, 2)
    want = _rows(state.read(spark, clean, KV))
    assert want == [(1, "d"), (2, "c"), (3, "e")]

    crashed = str(tmp_path / "crashed")
    _commit_all(spark, crashed, first)
    state.compact(spark, crashed, _keep_latest)
    _commit_all(spark, crashed, later)
    os.rename(
        os.path.join(crashed, "batch=-1"),
        os.path.join(crashed, ".old-compact"),
    )
    spark.createDataFrame([(9, "junk")], KV).write.parquet(
        os.path.join(crashed, ".staging-compact")
    )
    # neither leftover is visible: the reader sees batch 2 alone
    assert _rows(state.read(spark, crashed, KV)) == [(1, "d"), (3, "e")]

    assert state.compact(spark, crashed, _keep_latest) == (3, 2)
    assert _rows(state.read(spark, crashed, KV)) == want
    assert os.listdir(crashed) == ["batch=-1"]


def test_compact_folds_resolve_a_key_in_compacted_and_later_batch(
    spark, tmp_path
):
    """Keep-latest (dedup) takes the later batch's row for a key that is
    also in batch=-1; first-seen (curate) keeps the batch=-1 row."""
    sh = str(tmp_path / "sh")
    hashes = os.path.join(sh, "hashes")
    state.commit(
        spark.createDataFrame([(1, 10), (2, 20)], "doc_id long, simhash long"),
        hashes,
        0,
    )
    assert compact_simhash_dedup_state(spark, sh) == {
        "hashes": 2, "pairs": 0, "batches": 1,
    }
    state.commit(
        spark.createDataFrame([(2, 21)], "doc_id long, simhash long"),
        hashes,
        1,
    )
    assert compact_simhash_dedup_state(spark, sh) == {
        "hashes": 2, "pairs": 0, "batches": 2,
    }
    assert _rows(read_simhash_dedup_state(spark, sh)[0]) == [
        (1, 10), (2, 21)
    ]

    cur = str(tmp_path / "curate")
    fps = os.path.join(cur, "fingerprints")
    fp_schema = "fingerprint string, doc_id long"
    state.commit(spark.createDataFrame([("fa", 1)], fp_schema), fps, 0)
    compact_curate_state(spark, cur)
    state.commit(
        spark.createDataFrame([("fa", 7), ("fb", 8)], fp_schema), fps, 1
    )
    assert compact_curate_state(spark, cur) == {
        "fingerprints": 2, "urls": 0, "signatures": 0, "ledger": 0,
    }
    assert _rows(read_curate_state(spark, cur)[1]) == [("fa", 1), ("fb", 8)]
    assert os.listdir(fps) == ["batch=-1"]


def test_staged_commit_invisible_and_replaced_on_replay(spark, tmp_path):
    """A commit that crashed after staging leaves ``.staging-<id>``: the
    reader never sees it, and replaying the batch replaces it."""
    root = str(tmp_path / "t")
    empty = state.read(spark, root, KV)
    assert empty.count() == 0 and empty.columns == ["k", "v"]

    _commit_all(spark, root, [(0, [(1, "a")])])
    spark.createDataFrame([(2, "half")], KV).write.parquet(
        os.path.join(root, ".staging-1")
    )
    assert _rows(state.read(spark, root, KV)) == [(1, "a")]

    _commit_all(spark, root, [(1, [(2, "b")])])
    assert sorted(os.listdir(root)) == ["batch=0", "batch=1"]
    assert _rows(state.read(spark, root, KV)) == [(1, "a"), (2, "b")]
    # a replay of batch 1 reads only what was committed before it
    assert _rows(state.read(spark, root, KV, before=1)) == [(1, "a")]


def test_held_frames_released_when_a_step_raises(spark):
    df = spark.range(3)
    with pytest.raises(RuntimeError):
        with _held() as hold:
            hold(df).count()
            assert df.is_cached
            raise RuntimeError("state read failed")
    assert not df.is_cached
