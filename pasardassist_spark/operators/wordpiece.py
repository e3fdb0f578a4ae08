"""WordPiece tokenizer: score-ranked merge training and greedy
longest-match-first encoding (the BERT tokenizer family).

Public algorithm (Schuster & Nakajima 2012; Wu et al. 2016 "Google's
NMT"; the HuggingFace tokenizers documentation describes the exact
training loop): the BPE training loop, except that the next merge
maximizes the LIKELIHOOD score count(ab) / (count(a) * count(b)) rather
than the raw pair count — preferring pairs whose parts rarely occur
apart — and word-internal continuation symbols carry the ``##`` prefix.
Training is therefore the shared merge trainer of operators/bpe.py under
the ``WORDPIECE`` rule. Encoding is NOT merge-replay: it is greedy
longest-prefix matching against the final vocab, with a whole-word
fallback to ``[UNK]``, run through bpe.py's type-grain encode plan.

This completes the subword-tokenizer family next to operators/bpe.py
(frequency-ranked merges) and operators/unigram.py (EM-pruned unigram
LM): the three published algorithms production tokenizers use.

Reference parity: the reference ships no tokenizer (its text surface is
search regexes, src/modules/app/app.service.ts:446-474); this operator
belongs to the LLM-training-data extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pasardassist_spark.operators.bpe import (
    BPE,
    DRIVER_TYPES_MAX,
    MergeRule,
    encode_types,
    train_merges,
)

UNK = "[UNK]"
CONT = "##"


def _wp_symbols(word_col) -> F.Column:
    """Initial WordPiece symbolization: first char plain, every later
    char prefixed with the continuation marker."""
    return F.transform(
        BPE.symbols(word_col),
        lambda c, i: F.when(i == 0, c).otherwise(F.concat(F.lit(CONT), c)),
    )


def _strip_cont(sym: str) -> str:
    return sym[len(CONT) :] if sym.startswith(CONT) else sym


# the merged symbol keeps LEFT's continuation status; RIGHT's ## marker
# dissolves into the join (ab / ##ab, never a####b)
WORDPIECE = MergeRule(
    symbols=_wp_symbols,
    score=lambda n_ab, n_a, n_b: float(n_ab) / (float(n_a) * float(n_b)),
    join=lambda left, right: left + _strip_cont(right),
)


def train_wordpiece(
    corpus: DataFrame,
    text_col: str,
    n_merges: int,
    driver_types_max: int = DRIVER_TYPES_MAX,
) -> list[tuple[str, str, float]]:
    """Learn ``n_merges`` WordPiece merges; returns [(left, right, score)]
    in merge order. Deterministic: ties break on (score desc, left,
    right); pairs below absolute count 2 stop training (a score over
    singletons is noise). The score is float64 over the exact symbol
    counts of bpe.py's one-aggregation round.

    ``driver_types_max``: type tables at or below this size train on the
    driver (see bpe.DRIVER_TYPES_MAX); pass 0 to force the distributed
    loop."""
    return train_merges(corpus, text_col, n_merges, WORDPIECE, driver_types_max)


def wordpiece_vocab(
    corpus: DataFrame,
    text_col: str,
    n_merges: int,
    driver_types_max: int = DRIVER_TYPES_MAX,
) -> tuple[list[str], list[tuple[str, str, float]]]:
    """Train and assemble the shipped vocab: [UNK], then every observed
    initial/continuation character (sorted), then each merge's product
    in merge order (the deterministic BERT-style layout). Returns
    (vocab list, merges)."""
    from pasardassist_spark.operators.text import tokens

    merges = train_wordpiece(corpus, text_col, n_merges, driver_types_max)
    chars = (
        corpus.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .select(F.explode(_wp_symbols(F.col("w"))).alias("s"))
        .distinct()
        .orderBy("s")
        .collect()
    )
    vocab: list[str] = [UNK] + [r.s for r in chars]
    seen = set(vocab)
    for left, right, _ in merges:
        prod = WORDPIECE.join(left, right)
        if prod not in seen:
            seen.add(prod)
            vocab.append(prod)
    return vocab, merges


def encode_word_wp(word: str, vocab: set[str]) -> list[str]:
    """BERT greedy longest-match-first: repeatedly take the LONGEST vocab
    entry matching a prefix of what remains (continuation pieces carry
    ##); if some position matches nothing, the WHOLE word becomes [UNK]
    (the published WordPieceTokenizer semantics, not a partial emit)."""
    out: list[str] = []
    pos = 0
    while pos < len(word):
        end = len(word)
        piece = None
        while end > pos:
            cand = word[pos:end]
            if pos > 0:
                cand = CONT + cand
            if cand in vocab:
                piece = cand
                break
            end -= 1
        if piece is None:
            return [UNK]
        out.append(piece)
        pos = end
    return out


def wordpiece_encode(
    corpus: DataFrame, text_col: str, id_col: str, vocab: list[str]
) -> DataFrame:
    """Tokenize the corpus under a trained vocab: ``encode_word_wp`` with
    the vocab as a closure-captured set, run through bpe.py's type-grain
    encode plan (``encode_types``).

    Returns (id_col, wp_tokens array<string>, n_wp_tokens long,
    n_unk long)."""
    vset = set(vocab)
    return encode_types(
        corpus, text_col, id_col, lambda w: encode_word_wp(w, vset), "wp_tokens"
    ).select(
        id_col,
        "wp_tokens",
        F.size("wp_tokens").cast("long").alias("n_wp_tokens"),
        F.size(F.filter("wp_tokens", lambda t: t == UNK))
        .cast("long")
        .alias("n_unk"),
    )
