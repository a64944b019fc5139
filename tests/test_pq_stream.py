"""Streaming face of the IVF-PQ index (streaming/pq_stream.py):
fold-equals-batch, replay safety, and serving from the compacted
cell-partitioned layout."""

import json
import os

from mod_reservoir_spark.pipeline.pq import (
    ivf_pq_topk,
    pq_index,
    pq_train,
)
from mod_reservoir_spark.pipeline.similarity import kmeans_train

SF = "/root/testdata/sf0.001"
EMB = f"{SF}/embeddings.parquet"


def test_stream_pq_index_equals_batch_replay_and_serving(spark, tmp_path):
    from mod_reservoir_spark.streaming.pq_stream import (
        compact_pq_index,
        read_pq_serving,
        read_stream_pq_index,
        stream_pq_index,
    )

    emb = spark.read.parquet(EMB).selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) as embedding"
    )
    cb, _ = pq_train(emb, m=8, ksub=8, iterations=2)
    cents, _h = kmeans_train(emb, n_centroids=8, iterations=2)

    rows = sorted(
        ((r.vec_id, list(r.embedding)) for r in emb.collect()),
        key=lambda t: t[0],
    )
    batches = [rows[0:200], rows[200:350], rows[350:]]

    indir = tmp_path / "vecs"
    indir.mkdir()
    state = str(tmp_path / "pq_state")
    q = stream_pq_index(
        spark, str(indir), str(tmp_path / "ckpt"), state, cb, cents
    )
    try:
        for bi, batch in enumerate(batches):
            with open(indir / f"b{bi}.jsonl", "w") as f:
                for i, v in batch:
                    f.write(json.dumps({"vec_id": i, "embedding": v}) + "\n")
            q.processAllAvailable()
    finally:
        q.stop()

    want = {
        (r.vec_id, r.cell, tuple(r.codes))
        for r in pq_index(emb, cb, cents).collect()
    }

    def check_state():
        got = {
            (r.vec_id, r.cell, tuple(r.codes))
            for r in read_stream_pq_index(spark, state).collect()
        }
        assert got == want

    check_state()

    # REPLAY: at-least-once redelivery of batch 1 — identical rows,
    # fold unchanged (index rows are a pure function of the batch
    # under frozen codebooks/centroids)
    from mod_reservoir_spark.streaming.state import commit

    replay_df = spark.createDataFrame(
        batches[1], "vec_id long, embedding array<double>"
    )
    replay_idx = pq_index(replay_df, cb, cents).localCheckpoint(eager=True)
    commit(replay_idx, os.path.join(state, "index"), 1)
    check_state()

    # COMPACTION + SERVING: the cell-partitioned layout answers
    # ivf_pq_topk identically to the directly-built index
    serving = str(tmp_path / "serving")
    compact_pq_index(spark, state, serving)
    served_idx = read_pq_serving(spark, serving)
    qdf = emb.filter("vec_id < 10")
    direct = sorted(
        map(tuple, ivf_pq_topk(
            pq_index(emb, cb, cents), qdf, cb, cents, k=5, nprobe=3
        ).collect())
    )
    served = sorted(
        map(tuple, ivf_pq_topk(
            served_idx, qdf, cb, cents, k=5, nprobe=3
        ).collect())
    )
    assert direct == served
    # the layout really is one directory per coarse cell
    cells = {
        d for d in os.listdir(serving) if d.startswith("cell=")
    }
    assert len(cells) == served_idx.select("cell").distinct().count()

    # COMPACTION WITH MODEL: the self-describing artifact — a serving
    # process reconstructs everything from the path alone
    from mod_reservoir_spark.pipeline.pq import read_pq_index

    artifact = str(tmp_path / "artifact")
    compact_pq_index(spark, state, artifact, codebooks=cb, centroids=cents)
    a_idx, a_cb, a_cents = read_pq_index(spark, artifact)
    assert a_cb == cb and a_cents == cents
    from_artifact = sorted(
        map(tuple, ivf_pq_topk(
            a_idx, qdf, a_cb, a_cents, k=5, nprobe=3
        ).collect())
    )
    assert from_artifact == direct
