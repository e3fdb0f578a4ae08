"""Scale-adaptive tokenizer training (r17 VERDICT #4): the metadata-
scale driver path and the distributed loop must produce IDENTICAL
artifacts — the switch is an execution strategy, never a semantics
change. ``driver_types_max=0`` is the A/B lever forcing the
distributed loop on the same corpus the sequential path handles."""

from __future__ import annotations

import pytest

from pasardassist_spark.operators import bpe
from pasardassist_spark.operators import unigram as U
from pasardassist_spark.operators.bpe import bpe_encode, train_bpe_merges
from pasardassist_spark.operators.wordpiece import (
    train_wordpiece,
    wordpiece_encode,
    wordpiece_vocab,
)

CORPUS = [
    ("low lower lowest low low",),
    ("new newer newest new wider wide",),
    ("low new wide wider lowest",),
    ("the newest newer the the low",),
]


def _df(spark):
    return spark.createDataFrame(CORPUS, "text string")


def test_bpe_seq_equals_distributed(spark):
    d = _df(spark)
    seq = train_bpe_merges(d, "text", 10)
    dist = train_bpe_merges(d, "text", 10, driver_types_max=0)
    assert seq == dist
    assert len(seq) > 0


def test_wordpiece_seq_equals_distributed(spark):
    d = _df(spark)
    seq = train_wordpiece(d, "text", 10)
    dist = train_wordpiece(d, "text", 10, driver_types_max=0)
    assert seq == dist
    v_seq, _ = wordpiece_vocab(d, "text", 10)
    v_dist, _ = wordpiece_vocab(d, "text", 10, driver_types_max=0)
    assert v_seq == v_dist


@pytest.mark.parametrize("train", [train_bpe_merges, train_wordpiece])
def test_switch_boundary_is_the_exact_type_count(spark, monkeypatch, train):
    """A type table of exactly ``driver_types_max`` types trains on the
    driver; one type more than the limit trains distributed; both learn
    the same merges."""
    n_types = len({w for (text,) in CORPUS for w in text.split()})
    spark_loops = []
    loop = bpe._merge_loop_spark

    def spy(*args):
        spark_loops.append(args[1:])
        return loop(*args)

    monkeypatch.setattr(bpe, "_merge_loop_spark", spy)
    d = _df(spark)
    at = train(d, "text", 10, driver_types_max=n_types)
    assert spark_loops == []
    below = train(d, "text", 10, driver_types_max=n_types - 1)
    assert len(spark_loops) == 1
    assert at == below and len(at) > 0


@pytest.mark.parametrize("train", [train_bpe_merges, train_wordpiece])
def test_driver_path_checkpoints_nothing(spark, monkeypatch, train):
    """The driver/distributed switch reads the word-type aggregate with a
    bounded collect before anything is materialized: a table that trains
    on the driver pays no checkpoint job and pins no RDD."""
    from pasardassist_spark.caching import lingering_rdds

    d = _df(spark)
    checkpoints = []
    real = type(d).localCheckpoint

    def spy(self, *args, **kwargs):
        checkpoints.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(d), "localCheckpoint", spy)
    before = lingering_rdds(spark)
    assert train(d, "text", 10)
    assert checkpoints == []
    assert lingering_rdds(spark) == before


def test_blank_and_empty_documents_encode_to_no_row(spark):
    d = _df(spark)
    docs = spark.createDataFrame(
        [(1, "   "), (2, "low newest"), (3, ""), (4, None)], "id long, text string"
    )
    bpe_rows = bpe_encode(docs, "text", train_bpe_merges(d, "text", 10), "id")
    vocab, _ = wordpiece_vocab(d, "text", 10)
    wp_rows = wordpiece_encode(docs, "text", "id", vocab)
    assert [r.id for r in bpe_rows.collect()] == [2]
    assert [r.id for r in wp_rows.collect()] == [2]


def test_unigram_seq_equals_distributed(spark):
    t = U.word_types(_df(spark), "text")
    p_seq, h_seq = U.train_unigram(t, vocab_size=24, n_seeds=60)
    p_dist, h_dist = U.train_unigram(
        t, vocab_size=24, n_seeds=60, driver_types_max=0
    )
    assert set(p_seq) == set(p_dist)
    # probabilities agree to float noise; the SHIPPED vocab_table (6-dp
    # rounded logprob, deterministic rank order) must be row-identical
    assert max(abs(p_seq[k] - p_dist[k]) for k in p_seq) < 1e-12
    vt_seq = [tuple(r) for r in U.vocab_table(t.sparkSession, p_seq).collect()]
    vt_dist = [
        tuple(r) for r in U.vocab_table(t.sparkSession, p_dist).collect()
    ]
    assert vt_seq == vt_dist
    assert len(h_seq) == len(h_dist)


def test_unigram_seq_history_monotone_within_round(spark):
    # EM's guarantee must hold on the sequential path too
    t = U.word_types(_df(spark), "text")
    _, history = U.train_unigram(
        t, vocab_size=24, n_seeds=60, em_iters_per_round=3
    )
    for i in range(1, 3):
        assert history[i] >= history[i - 1] - 1e-9
