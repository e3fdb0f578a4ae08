"""Distributed unigram-LM tokenizer training (Kudo 2018, "Subword
Regularization", §3 — the SentencePiece 'unigram' model), the
probabilistic sibling of operators/bpe.py.

Like BPE, training runs on the WORD-TYPE table (distinct words with
corpus counts — types << tokens by Zipf), so the corpus is shuffled
exactly once to build that table. The loop is then:

1. **Seed** — substring frequencies up to ``max_piece_len`` chars,
   JVM-generated (nested ``transform`` over position/length sequences),
   one groupBy on the substring domain, top-``n_seeds`` by (freq desc,
   piece asc) via TakeOrdered (a ``limit`` over an ordered frame — never
   a full sort), plus every single character (coverage guarantee).
2. **E-step** — forward-backward over each word's segmentation lattice
   (``mapInPandas`` over Arrow batches of word types; the piece table is
   a closure-captured dict, vocab-sized ≤ a few thousand entries),
   emitting per-batch pre-aggregated expected piece counts plus a
   log-likelihood sentinel row; one tiny piece-keyed groupBy reduces
   them (map-side combine makes the shuffle O(vocab × batches)).
3. **M-step** — renormalize expected counts on the driver (vocab-sized
   collect, capacity-bounded by construction).
4. **Prune** — keep the top ``shrink`` fraction by expected count
   (counts rounded to 6 dp before ranking, ties broken lexically, so
   the kept SET is stable under float summation order), never dropping
   single characters, until the target vocab size is reached.

At 100 TB the type table is 10-100 M rows — corpus-sized work is the
one word groupBy; each EM pass is map-only over types plus a vocab-sized
shuffle, and every collect is vocab-bounded. EM's monotone-likelihood
guarantee is pytest-pinned (tests/test_unigram.py), Viterbi optimality
is checked against exhaustive segmentation enumeration.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from pasardassist_spark.operators.bpe import DRIVER_TYPES_MAX
from pasardassist_spark.tables import local_frame, map_rows

MAX_PIECE_LEN = 8


# ------------------------------------------------------------ word types


def word_types(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt) — the corpus's one full-size shuffle."""
    return (
        df.select(
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


# ------------------------------------------------------------------ seed


def seed_substring_counts(
    types_df: DataFrame, max_piece_len: int = MAX_PIECE_LEN
) -> DataFrame:
    """All substrings up to max_piece_len with occurrence-weighted corpus
    frequency — pure JVM generation (no UDF)."""
    w = F.col("word")
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(max_piece_len)),
            lambda ln: F.when(
                F.length(w) >= ln,
                F.transform(
                    F.sequence(F.lit(1), F.length(w) - ln + 1),
                    lambda s: F.substring(w, s, ln),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
    return (
        types_df.select(F.explode(subs).alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("freq"))
    )


def seed_vocab(
    types_df: DataFrame,
    n_seeds: int = 1500,
    max_piece_len: int = MAX_PIECE_LEN,
) -> dict[str, float]:
    """Initial piece probabilities: top-n_seeds substrings by frequency
    plus all single characters, normalized."""
    sc = seed_substring_counts(types_df, max_piece_len)
    top = sc.orderBy(F.desc("freq"), F.asc("piece")).limit(n_seeds).collect()
    chars = sc.filter(F.length("piece") == 1).collect()
    freq = {r.piece: float(r.freq) for r in top}
    for r in chars:
        freq.setdefault(r.piece, float(r.freq))
    if not freq:
        raise ValueError("unigram seeding needs a non-empty corpus")
    total = sum(freq.values())
    return {p: f / total for p, f in freq.items()}


# --------------------------------------------------------------- E-step


def _lattice_counts(
    word: str, cnt: int, probs: dict[str, float], max_len: int
) -> tuple[dict[str, float], float]:
    """Forward-backward expected piece counts for one word type, and the
    word's log-likelihood contribution (cnt * log P(word))."""
    n = len(word)
    alpha = [0.0] * (n + 1)
    alpha[0] = 1.0
    for i in range(1, n + 1):
        a = 0.0
        for j in range(max(0, i - max_len), i):
            p = probs.get(word[j:i])
            if p:
                a += alpha[j] * p
        alpha[i] = a
    z = alpha[n]
    if z <= 0.0:
        return {}, 0.0  # unsegmentable under current support
    beta = [0.0] * (n + 1)
    beta[n] = 1.0
    for i in range(n - 1, -1, -1):
        b = 0.0
        for k in range(i + 1, min(n, i + max_len) + 1):
            p = probs.get(word[i:k])
            if p:
                b += p * beta[k]
        beta[i] = b
    ec: dict[str, float] = {}
    for j in range(n):
        if alpha[j] == 0.0:
            continue
        for i in range(j + 1, min(n, j + max_len) + 1):
            piece = word[j:i]
            p = probs.get(piece)
            if p:
                c = alpha[j] * p * beta[i] / z
                if c > 0.0:
                    ec[piece] = ec.get(piece, 0.0) + c * cnt
    return ec, cnt * math.log(z)


_EC_SCHEMA = T.StructType(
    [
        T.StructField("piece", T.StringType()),
        T.StructField("c", T.DoubleType()),
        T.StructField("ll", T.DoubleType()),
    ]
)

_LL_SENTINEL = ""  # pieces are never empty strings


def expected_counts(
    types_df: DataFrame, probs: dict[str, float], max_len: int = MAX_PIECE_LEN
) -> DataFrame:
    """One E-step pass: (piece, expected_count) rows plus per-batch
    log-likelihood sentinel rows (piece='')."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            acc: dict[str, float] = {}
            ll = 0.0
            for word, cnt in zip(b["word"], b["cnt"]):
                ec, l = _lattice_counts(word, int(cnt), probs, max_len)
                ll += l
                for p, c in ec.items():
                    acc[p] = acc.get(p, 0.0) + c
            rows = [(p, c, 0.0) for p, c in acc.items()]
            rows.append((_LL_SENTINEL, 0.0, ll))
            yield pd.DataFrame(rows, columns=["piece", "c", "ll"])

    return (
        types_df.mapInPandas(run, schema=_EC_SCHEMA)
        .groupBy("piece")
        .agg(F.sum("c").alias("c"), F.sum("ll").alias("ll"))
    )


def em_step(
    types_df: DataFrame, probs: dict[str, float], max_len: int = MAX_PIECE_LEN
) -> tuple[dict[str, float], dict[str, float], float]:
    """Returns (new_probs, expected_counts, corpus log-likelihood under
    the INPUT probs)."""
    rows = expected_counts(types_df, probs, max_len).collect()  # vocab-sized
    counts = {r.piece: r.c for r in rows if r.piece != _LL_SENTINEL}
    loglik = sum(r.ll for r in rows if r.piece == _LL_SENTINEL)
    total = sum(counts.values())
    new_probs = {p: c / total for p, c in counts.items() if c > 0.0}
    return new_probs, counts, loglik


# ----------------------------------------------------------------- prune


def prune_vocab(
    probs: dict[str, float],
    counts: dict[str, float],
    keep_n: int,
) -> dict[str, float]:
    """Keep the keep_n highest-expected-count pieces (single characters
    always survive), renormalized. Ranking uses 6-dp-rounded counts with
    a lexical tiebreak so the kept set is deterministic under float
    summation order."""
    chars = {p for p in probs if len(p) == 1}
    multi = [p for p in probs if len(p) > 1]
    multi.sort(key=lambda p: (-round(counts.get(p, 0.0), 6), p))
    room = max(0, keep_n - len(chars))
    kept = chars | set(multi[:room])
    raw = {p: counts.get(p, 0.0) for p in kept}
    floor = 1e-12  # chars with zero expected count stay segmentable
    total = sum(max(c, floor) for c in raw.values())
    return {p: max(c, floor) / total for p, c in raw.items()}


# ----------------------------------------------------------------- train

def _seed_vocab_seq(
    types: list[tuple[str, int]], n_seeds: int, max_piece_len: int
) -> dict[str, float]:
    """seed_vocab over collected types — same top-(freq desc, piece asc)
    selection, same single-char coverage, exact integer frequencies so
    the normalized probabilities are bit-identical to the Spark path."""
    freq_all: dict[str, int] = {}
    for word, cnt in types:
        n = len(word)
        for ln in range(1, max_piece_len + 1):
            for s in range(n - ln + 1):
                piece = word[s : s + ln]
                freq_all[piece] = freq_all.get(piece, 0) + cnt
    top = sorted(freq_all.items(), key=lambda kv: (-kv[1], kv[0]))[:n_seeds]
    freq = {p: float(f) for p, f in top}
    for p, f in freq_all.items():
        if len(p) == 1:
            freq.setdefault(p, float(f))
    if not freq:
        raise ValueError("unigram seeding needs a non-empty corpus")
    total = sum(freq.values())
    return {p: f / total for p, f in freq.items()}


def _em_step_seq(
    types: list[tuple[str, int]],
    probs: dict[str, float],
    max_len: int,
) -> tuple[dict[str, float], dict[str, float], float]:
    """em_step over collected types: the identical forward-backward
    kernel, accumulated driver-side instead of via the piece groupBy."""
    counts: dict[str, float] = {}
    loglik = 0.0
    for word, cnt in types:
        ec, ll = _lattice_counts(word, cnt, probs, max_len)
        loglik += ll
        for p, c in ec.items():
            counts[p] = counts.get(p, 0.0) + c
    total = sum(counts.values())
    new_probs = {p: c / total for p, c in counts.items() if c > 0.0}
    return new_probs, counts, loglik


def train_unigram(
    types_df: DataFrame,
    vocab_size: int = 256,
    n_seeds: int = 1500,
    max_piece_len: int = MAX_PIECE_LEN,
    shrink: float = 0.7,
    em_iters_per_round: int = 2,
    driver_types_max: int = DRIVER_TYPES_MAX,
) -> tuple[dict[str, float], list[float]]:
    """Full training loop; returns (piece -> prob, log-likelihood history).

    The history records the corpus log-likelihood measured at the START
    of each E-step; within a prune round it is non-decreasing (EM's
    guarantee, pytest-pinned).

    ``driver_types_max``: type tables at or below this size run the EM
    loop sequentially on the driver (see DRIVER_TYPES_MAX); pass 0 to
    force the distributed loop (the tests' A/B lever)."""
    types_df = types_df.cache()
    seq_types: list[tuple[str, int]] | None = None
    rows = types_df.limit(driver_types_max + 1).collect()
    if len(rows) <= driver_types_max:
        seq_types = [(r["word"], int(r["cnt"])) for r in rows]
        types_df.unpersist()
        probs = _seed_vocab_seq(seq_types, n_seeds, max_piece_len)
    else:
        probs = seed_vocab(types_df, n_seeds, max_piece_len)
    history: list[float] = []
    while True:
        for _ in range(em_iters_per_round):
            if seq_types is not None:
                probs, counts, ll = _em_step_seq(
                    seq_types, probs, max_piece_len
                )
            else:
                probs, counts, ll = em_step(types_df, probs, max_piece_len)
            history.append(ll)
        if len(probs) <= vocab_size:
            break
        keep = max(vocab_size, int(len(probs) * shrink))
        pruned = prune_vocab(probs, counts, keep)
        # Termination guard: prune_vocab always keeps every single
        # character, so when vocab_size < |chars| the size can plateau
        # above the target forever — stop once a prune round makes no
        # progress (the floor is the char set; two distributed EM
        # passes per stalled round would otherwise loop indefinitely).
        if len(pruned) >= len(probs):
            probs = pruned
            break
        probs = pruned
    if seq_types is None:
        types_df.unpersist()
    return probs, history


# ---------------------------------------------------------------- encode


def viterbi_segment(
    word: str, logp: dict[str, float], max_len: int = MAX_PIECE_LEN
) -> list[str]:
    """Max-probability segmentation (ties: longer last piece wins, the
    deterministic convention)."""
    n = len(word)
    best = [-math.inf] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            lp = logp.get(word[j:i])
            if lp is not None and best[j] + lp >= best[i]:
                best[i] = best[j] + lp
                back[i] = j
    if best[n] == -math.inf:
        return [word]  # unsegmentable: emit whole word as unknown
    out = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    return out[::-1]


_ENC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_words", T.LongType()),
        T.StructField("n_pieces", T.LongType()),
        T.StructField("n_unk_words", T.LongType()),
    ]
)


def unigram_encode(
    df: DataFrame,
    text_col: str,
    id_col: str,
    probs: dict[str, float],
    max_len: int = MAX_PIECE_LEN,
) -> DataFrame:
    """Viterbi-encode each document with a trained vocab: per-doc word,
    piece, and unsegmentable-word counts. One ``tables.map_rows`` stage;
    the vocab is a closure-captured dict, and each task segments a
    distinct word once (the closure's cache)."""
    logp = {p: math.log(v) for p, v in probs.items() if v > 0.0}
    cache: dict[str, tuple[int, bool]] = {}

    def encode(doc_id, text):
        words = text.split()
        np_, nu = 0, 0
        for w in words:
            hit = cache.get(w)
            if hit is None:
                seg = viterbi_segment(w, logp, max_len)
                unk = len(seg) == 1 and seg[0] not in logp
                hit = (len(seg), unk)
                cache[w] = hit
            np_ += hit[0]
            nu += hit[1]
        yield int(doc_id), len(words), np_, nu

    return map_rows(df.select(id_col, text_col), encode, _ENC_SCHEMA)


def vocab_table(spark: SparkSession, probs: dict[str, float]) -> DataFrame:
    """Final vocab as a DataFrame with a total deterministic order."""
    rows = sorted(
        ((p, math.log(v)) for p, v in probs.items()),
        key=lambda r: (-round(r[1], 6), r[0]),
    )
    return local_frame(
        spark,
        [
            (i + 1, p, round(lp, 6), len(p))
            for i, (p, lp) in enumerate(rows)
        ],
        schema="rank INT, piece STRING, logprob DOUBLE, piece_len INT",
    )
