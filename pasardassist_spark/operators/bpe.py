"""Subword merge training shared by BPE (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units") and WordPiece
(operators/wordpiece.py) — tokenizer induction as a Spark job.

Both algorithms train on the WORD-TYPE table (distinct words with corpus
counts), not the token stream: one corpus-sized shuffle builds that table,
then every merge round runs over types only (types << tokens — Zipf).
They differ only in the three fields of a ``MergeRule``:

- ``symbols``: a word's initial symbols (plain characters for BPE;
  WordPiece prefixes every character after the first with ``##``);
- ``score``: the pair score from the pair count n_ab and the symbol
  counts n_a, n_b (BPE: n_ab; WordPiece: the float64 n_ab / (n_a * n_b));
- ``join``: the merged symbol (BPE: left + right; WordPiece: left +
  right without its ``##``).

Each round:

1. counts every adjacent pair PLUS one last-symbol marker per word
   (right = NULL), weighted by word count — one aggregation over the type
   table. The symbol counts follow from that one map by the identity

       n_s = sum of pair counts where s is the LEFT symbol
           + sum of word counts whose LAST symbol is s

   (every occurrence of s is either the left element of one adjacent pair
   or its word's final symbol);
2. takes the argmax pair on the key (-score, left, right); a pair with
   count below 2 never wins, and training stops when none is left;
3. merges that pair greedily left-to-right, non-overlapping, in every
   word's symbol array.

The distributed loop runs step 1 as a Spark aggregation whose result it
collects: pair-count metadata of at most one row per distinct adjacent
symbol pair plus one per distinct last symbol, so bounded by
|active vocab|² + |active vocab| and Zipf-truncated far below that (the
in-memory HuggingFace trainer holds the identical map). Step 2 is driver
Python over that map, step 3 a pure JVM ``aggregate`` fold. At 100 TB the
type table is 10-100 M rows — still a distributed frame, which is why the
merge stays an array expression instead of a driver-side dict; a
localCheckpoint every CHECKPOINT_EVERY rounds bounds the plan depth.

Scale-adaptive switch: when the type table holds at most
DRIVER_TYPES_MAX types (a few MB of (word, cnt) pairs), 20 rounds of Spark
jobs would be pure scheduler overhead over a frame the driver holds
trivially, so the rounds run as a sequential driver loop with the same
counts, argmax and merge. One bounded ``limit(max + 1).collect()`` of the
type-table aggregate decides the switch and, below it, is the driver
loop's input; only the distributed loop checkpoints the table.

Differential checks: tests/test_operators.py and tests/test_wordpiece.py
train on tiny corpora against independent sequential references;
tests/test_tokenizer_hybrid.py pins driver loop == distributed loop.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import NamedTuple

import pandas as pd  # module-level: pandas_udf resolves string type hints here

from pyspark.sql import DataFrame, SparkSession, functions as F

from pasardassist_spark.tables import local_frame

# lineage-vs-materialization tradeoff, measured at sf0.1 on 30 WordPiece
# merges (warm): every round 7.0 s, every 2nd 6.0 s, every 3rd 7.4 s,
# every 5th 7.4 s — two merge folds of lineage recompute cost about one
# checkpoint job
CHECKPOINT_EVERY = 2

# Type tables at or below this size train on the driver (module docstring)
# — shared by every subword trainer (wordpiece.py, unigram.py).
DRIVER_TYPES_MAX = 100_000


class MergeRule(NamedTuple):
    """What a merge-based tokenizer supplies to the shared trainer."""

    symbols: Callable[[F.Column], F.Column]  # word -> array<string>
    score: Callable[[int, int, int], int | float]  # (n_ab, n_a, n_b)
    join: Callable[[str, str], str]  # (left, right) -> merged symbol


def _char_symbols(word: str | F.Column) -> F.Column:
    # split between characters: not at start (no leading empty) and only
    # where a character follows (Spark's split keeps trailing empties that
    # a bare (?!^) would produce at end-of-string)
    return F.split(word, r"(?!^)(?=.)")


BPE = MergeRule(
    symbols=_char_symbols,
    score=lambda n_ab, n_a, n_b: n_ab,
    join=lambda left, right: left + right,
)


def _best_merge(
    counts: Iterable[tuple[tuple[str, str | None], int]], rule: MergeRule
) -> tuple[str, str, int | float] | None:
    """Argmax over one round's ((left, right), n) counts, where right is
    None for a last-symbol marker: the (left, right, score) with the
    smallest (-score, left, right) among pairs counted at least twice."""
    pair_n: dict[tuple[str, str], int] = {}
    sym_n: dict[str, int] = {}
    for (left, right), n in counts:
        sym_n[left] = sym_n.get(left, 0) + n
        if right is not None:
            pair_n[(left, right)] = n
    best = None
    for (left, right), n in pair_n.items():
        if n < 2:  # a score over singletons is noise
            continue
        key = (-rule.score(n, sym_n[left], sym_n[right]), left, right)
        if best is None or key < best:
            best = key
    return None if best is None else (best[1], best[2], -best[0])


def _merge_loop_driver(
    types: list[tuple[list[str], int]], n_merges: int, rule: MergeRule
) -> list[tuple[str, str, int | float]]:
    """The merge rounds over a collected type table."""
    merges: list[tuple[str, str, int | float]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str | None], int] = {}
        for syms, cnt in types:
            for key in (*zip(syms, syms[1:]), (syms[-1], None)):
                counts[key] = counts.get(key, 0) + cnt
        best = _best_merge(counts.items(), rule)
        if best is None:
            break
        merges.append(best)
        left, right, _ = best
        joined = rule.join(left, right)
        nxt: list[tuple[list[str], int]] = []
        for syms, cnt in types:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = joined
                else:
                    out.append(s)
            nxt.append((out, cnt))
        types = nxt
    return merges


def _apply_merge(
    types_df: DataFrame, left: str, right: str, joined: str
) -> DataFrame:
    """Greedy left-to-right non-overlapping merge of (left, right) into
    ``joined`` in every word's symbol array — a pure JVM aggregate fold.
    (A merged symbol can never re-match as ``left`` within the same pass:
    ``joined`` is longer than ``left``.)"""
    a, b = F.lit(left), F.lit(right)
    merged = F.aggregate(
        "syms",
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == a) & (x == b),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(joined))),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return types_df.select(merged.alias("syms"), "cnt")


def _merge_loop_spark(
    types_df: DataFrame, n_merges: int, rule: MergeRule
) -> list[tuple[str, str, int | float]]:
    """The merge rounds over a distributed type table: one aggregation
    job per round, collected as pair-count metadata (module docstring)."""
    syms = F.col("syms")
    pairs_and_last = F.concat(
        F.when(
            F.size(syms) >= 2,
            F.transform(
                F.slice(syms, 1, F.size(syms) - 1),
                lambda x, i: F.struct(
                    x.alias("left"), F.element_at(syms, i + 2).alias("right")
                ),
            ),
        ).otherwise(F.array().cast("array<struct<left:string,right:string>>")),
        F.array(
            F.struct(
                F.element_at(syms, -1).alias("left"),
                F.lit(None).cast("string").alias("right"),
            )
        ),
    )
    # Each localCheckpoint caches its RDD on the executors for the life of
    # the session; without unpersisting the predecessor, a long merge run
    # pins O(n_merges / CHECKPOINT_EVERY) dead copies of the type table.
    prev_ckpt = types_df
    merges: list[tuple[str, str, int | float]] = []
    for i in range(n_merges):
        rows = (
            types_df.select(F.explode(pairs_and_last).alias("u"), "cnt")
            .groupBy("u.left", "u.right")
            .agg(F.sum("cnt").alias("n"))
            .collect()
        )
        best = _best_merge((((r.left, r.right), r.n) for r in rows), rule)
        if best is None:
            break
        merges.append(best)
        left, right, _ = best
        types_df = _apply_merge(types_df, left, right, rule.join(left, right))
        if (i + 1) % CHECKPOINT_EVERY == 0:
            types_df = types_df.localCheckpoint()  # eager: materializes now
            prev_ckpt.unpersist()
            prev_ckpt = types_df
    prev_ckpt.unpersist()
    return merges


def train_merges(
    corpus: DataFrame,
    text_col: str,
    n_merges: int,
    rule: MergeRule,
    driver_types_max: int,
) -> list[tuple[str, str, int | float]]:
    """Learn up to ``n_merges`` merges under ``rule``; returns
    [(left, right, score)] in merge order. Type tables of at most
    ``driver_types_max`` types train on the driver, larger ones on the
    cluster (module docstring)."""
    from pasardassist_spark.operators.text import tokens

    types_df = (
        corpus.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(rule.symbols(F.col("w")).alias("syms"), "cnt")
    )
    rows = types_df.limit(driver_types_max + 1).collect()
    if len(rows) <= driver_types_max:
        return _merge_loop_driver(
            [(list(r["syms"]), int(r["cnt"])) for r in rows], n_merges, rule
        )
    return _merge_loop_spark(types_df.localCheckpoint(), n_merges, rule)


def train_bpe_merges(
    corpus: DataFrame,
    text_col: str,
    n_merges: int,
    driver_types_max: int = DRIVER_TYPES_MAX,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(left, right, count)] in
    merge order. Deterministic: ties break on (count desc, left, right).

    ``driver_types_max``: type tables at or below this size refine
    sequentially on the driver (see DRIVER_TYPES_MAX); pass 0 to force
    the distributed loop (the tests' A/B lever)."""
    return train_merges(corpus, text_col, n_merges, BPE, driver_types_max)


def bpe_merge_table(
    spark: SparkSession, corpus: DataFrame, text_col: str, n_merges: int
) -> DataFrame:
    """The learned merge table as a DataFrame (rank, left, right, merged,
    pair_count) — the artifact a tokenizer ships."""
    merges = train_bpe_merges(corpus, text_col, n_merges)
    rows = [
        (r, left, right, left + right, n)
        for r, (left, right, n) in enumerate(merges)
    ]
    return local_frame(
        spark,
        rows, "rank int, left string, right string, merged string, pair_count long"
    )


# --------------------------------------------------------------- encoding


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode ONE word with a trained merge ranking: repeatedly merge the
    lowest-rank adjacent pair PRESENT, left-to-right non-overlapping per
    pass, until no ranked pair remains — the standard subword-nmt / GPT-2
    encode semantics (min-rank-present loop). Note this is deliberately
    NOT a replay of every merge in global rank order: a later merge can
    create a pair of an earlier rank, and the standard encoder (unlike a
    strict replay) goes back and merges it — tests pin these semantics
    against an independent sequential reference."""
    syms = list(word)
    while len(syms) >= 2:
        best, best_pair = None, None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best is None or r < best):
                best, best_pair = r, pair
        if best_pair is None:
            break
        left, right = best_pair
        out: list[str] = []
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = left + right
            else:
                out.append(s)
        syms = out
    return syms


def _merge_ranks(
    merges: list[tuple[str, str, int]] | list[tuple[str, str]] | DataFrame,
) -> dict[tuple[str, str], int]:
    """Normalize a merge artifact to {pair: rank}. A DataFrame (the shipped
    ``bpe_merge_table`` form) is ordered by its explicit ``rank`` column —
    NEVER by collect order, which Spark does not guarantee. A list is
    taken as already in merge order (the ``train_bpe_merges`` return:
    (left, right[, pair_count]) — the optional third element is the pair
    COUNT, not a rank)."""
    if isinstance(merges, DataFrame):
        rows = merges.select("rank", "left", "right").collect()
        return {
            (r["left"], r["right"]): int(r["rank"])
            for r in sorted(rows, key=lambda r: r["rank"])
        }
    return {(left, right): r for r, (left, right, *_) in enumerate(merges)}


def encode_types(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    encode: Callable[[str], list[str]],
    out_col: str,
) -> DataFrame:
    """The type-grain encode plan of every merge tokenizer: the corpus
    explodes to (doc, position, word) once, empty words are dropped, the
    DISTINCT word types (Zipf: types << tokens) are encoded ONE TIME each
    by an Arrow-batched pandas UDF running ``encode`` (subword encoding is
    inherently per-word sequential — Python is justified here, over types
    only, never the token stream), and the type→subwords map joins back
    on the word equi-key (AQE broadcasts it when small; at 10-100 M types
    it stays a co-partitioned shuffle join). Per-doc order is restored by
    position before the flatten, so the output token sequence is exact.

    Returns (id_col, out_col array<string>). A document without a word
    (null, empty or blank text) has no row."""
    from pyspark.sql.functions import pandas_udf

    from pasardassist_spark.operators.text import tokens

    @pandas_udf("array<string>")
    def _encode(words: pd.Series) -> pd.Series:
        return words.map(encode)

    doc_words = corpus.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "w"),
    ).filter(F.length("w") > 0)  # blank text splits to one "" token
    types = doc_words.select("w").distinct().select(
        "w", _encode(F.col("w")).alias("subs")
    )
    return (
        doc_words.join(types, "w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.array_sort(F.collect_list(F.struct("pos", "subs"))).subs
            ).alias(out_col)
        )
    )


def bpe_encode(
    corpus: DataFrame,
    text_col: str,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]] | DataFrame,
    id_col: str,
) -> DataFrame:
    """Tokenize the corpus with a TRAINED merge list — the actual
    tokenizer-application step of a training-data pipeline (the
    reference ships no tokenizer; at 100 TB this is the single most
    common corpus-wide transform after dedup). Runs ``encode_word`` over
    the corpus through the type-grain plan of ``encode_types``.

    ``merges`` is either the ``train_bpe_merges`` return (a list in merge
    order) or the persisted ``bpe_merge_table`` DataFrame (ordered by its
    ``rank`` column — safe to pass straight from a parquet round-trip).

    Returns (id_col, bpe_tokens array<string>, n_bpe_tokens long).
    Documents whose text tokenizes to zero words are absent from the
    output.
    """
    ranks = _merge_ranks(merges)
    return encode_types(
        corpus, text_col, id_col, lambda w: encode_word(w, ranks), "bpe_tokens"
    ).select(
        id_col,
        "bpe_tokens",
        F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
    )


def bpe_vocab_table(
    corpus: DataFrame,
    text_col: str,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]] | DataFrame,
) -> DataFrame:
    """The tokenizer's VOCAB artifact: one row per symbol the encoder can
    emit, with a stable integer id — what actually ships beside the merge
    table (a trained tokenizer is (vocab, merges); the merge list alone
    cannot map tokens to embedding-matrix rows).

    Id assignment is the standard deterministic layout: base characters
    first (sorted — every char OBSERVED in the corpus, so unseen-char
    fallback symbols are visible vocabulary), then one merged symbol per
    merge in RANK order. Ids are therefore reproducible across runs and
    stable under vocabulary growth (appending merges never renumbers
    existing symbols — the property embedding checkpoints depend on).

    Distributed cost: one distinct-characters pass over the corpus
    (explode to chars → distinct — O(corpus) map + a tiny shuffle);
    the merge list is already driver-resident metadata.
    """
    from pasardassist_spark.operators.text import tokens

    if isinstance(merges, DataFrame):
        rows = sorted(
            merges.select("rank", "left", "right").collect(),
            key=lambda r: r["rank"],
        )
        merge_syms = [r["left"] + r["right"] for r in rows]
    else:
        merge_syms = [left + right for left, right, *_ in merges]
    chars = sorted(
        r["c"]
        for r in corpus.select(
            F.explode(
                _char_symbols(F.array_join(tokens(F.col(text_col)), ""))
            ).alias("c")
        )
        .filter(F.length("c") > 0)  # empty/whitespace-only docs split to
        .distinct()                 # [''] — not a symbol, and admitting it
        .collect()                  # would renumber every id after it
    )
    spark = corpus.sparkSession
    # Closure guard (ADVICE r7): the char block is derived from THIS
    # corpus, so merges trained on a different corpus can reference
    # characters with no vocab id — the encoder's char-level fallback for
    # those symbols would emit ids the table cannot map. Ids must stay
    # append-stable (inserting the missing chars would renumber the merge
    # block), so fail loudly instead of silently widening.
    missing = sorted({c for s in merge_syms for c in s} - set(chars))
    if missing:
        raise ValueError(
            f"merge table references {len(missing)} character(s) absent "
            f"from this corpus ({missing[:8]!r}...); build the vocab over "
            "the tokenizer's TRAINING corpus (or a superset) so the char "
            "block closes over every merge symbol"
        )
    rows_out = [(i, s, "char") for i, s in enumerate(chars)] + [
        (len(chars) + i, s, "merge") for i, s in enumerate(merge_syms)
    ]
    return local_frame(
        spark, rows_out, "token_id int, symbol string, kind string"
    )
