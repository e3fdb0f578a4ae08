"""Streaming IVF index maintenance: the stream-maintained posting table
must equal the batch-built one on the same corpus and frozen centroids,
search from it must equal search from the batch index, and re-ingesting a
vector in a later epoch must move it (latest-epoch-wins merge)."""

from __future__ import annotations

import os
from functools import partial

from pasardassist_spark.streaming.generations import start_epochs
from pasardassist_spark.tables import load


def _chunked_file_source(spark, df, tmp_path, n_chunks=3):
    rows = df.collect()
    src = str(tmp_path / "chunks")
    os.makedirs(src)
    chunk = len(rows) // n_chunks + 1
    idx = 0
    for i in range(n_chunks):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            stage = tmp_path / f"stage{i}"
            spark.createDataFrame(part, df.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(stage))
            for f in os.listdir(stage):
                if f.endswith(".parquet"):
                    os.rename(
                        str(stage / f), os.path.join(src, f"p{idx}.parquet")
                    )
                    idx += 1
    return src


def test_streaming_ivf_index_equals_batch_build(spark, sf_dir, tmp_path):
    from pasardassist_spark.operators.similarity import ivf_assignments
    from pasardassist_spark.streaming.annindex import (
        apply_ivf_batch,
        index_from_state,
        ivf_search_maintained,
    )
    from pasardassist_spark.operators import similarity as S

    emb = load(spark, sf_dir, "embeddings")
    batch_asg, cent = ivf_assignments(emb)
    want = {r.vec_id: r.list_id for r in batch_asg.collect()}

    src = _chunked_file_source(spark, emb, tmp_path)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "state")
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_ivf_batch, state_dir=state, centroids=cent
    ))
    q.processAllAvailable()
    q.stop()

    got = {
        r.vec_id: r.list_id for r in index_from_state(spark, state).collect()
    }
    assert got == want, "stream-maintained postings differ from batch build"

    qids = [r.vec_id for r in emb.limit(5).collect()]
    served = {
        (r.q_id, r.neighbor_id)
        for r in ivf_search_maintained(spark, state, emb, qids, 10, cent).collect()
    }
    batch_served = {
        (r.q_id, r.neighbor_id)
        for r in S.ivf_topk(
            emb, qids, 10, assignments=batch_asg, centroids=cent
        ).collect()
    }
    assert served == batch_served


def test_streaming_ivf_reingest_moves_vector(spark, sf_dir, tmp_path):
    """An embedding re-ingested with new values in a later batch must land
    in its NEW list (latest-epoch-wins), not duplicate or stay stale."""
    from pyspark.sql import functions as F

    from pasardassist_spark.operators.similarity import (
        assign_lists,
        ivf_assignments,
    )
    from pasardassist_spark.streaming.annindex import (
        apply_ivf_batch,
        index_from_state,
    )

    emb = load(spark, sf_dir, "embeddings")
    _, cent = ivf_assignments(emb)

    victim = emb.orderBy("vec_id").limit(1).collect()[0]
    donor = emb.orderBy(F.desc("vec_id")).limit(1).collect()[0]
    moved = spark.createDataFrame(
        [(victim.vec_id, list(donor.embedding), victim.label)], emb.schema
    )

    src = str(tmp_path / "chunks")
    os.makedirs(src)
    for i, df in enumerate([emb, moved]):
        stage = tmp_path / f"stage{i}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                os.rename(str(stage / f), os.path.join(src, f"p{i}.parquet"))

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "state")
    q = start_epochs(stream, str(tmp_path / "ckpt"), partial(
        apply_ivf_batch, state_dir=state, centroids=cent
    ))
    q.processAllAvailable()
    q.stop()

    got = {
        r.vec_id: r.list_id for r in index_from_state(spark, state).collect()
    }
    assert len(got) == emb.count(), "re-ingest must not duplicate vec_ids"
    new_list = assign_lists(moved, cent).collect()[0].list_id
    assert got[victim.vec_id] == new_list, "stale assignment after re-ingest"
