"""Distributed BPE merge training (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units") — tokenizer induction as a
Spark job.

Classic BPE trains on the WORD-TYPE table (distinct words with corpus
counts), not the token stream: one corpus-sized shuffle builds that table,
then every merge iteration runs over types only (types << tokens — Zipf).
Each iteration is:

1. adjacent-pair counts weighted by word count (flatMap via transform +
   posexplode, one shuffle over the type table);
2. argmax pair with a deterministic tiebreak (count desc, then pair
   lexicographic) — a driver-side head(1) of a 1-row-interesting frame
   (metadata-scale collect);
3. greedy left-to-right merge applied to every word's symbol array as a
   pure JVM ``aggregate`` fold — no Python in the loop.

At 100 TB the type table is 10-100 M rows — still a distributed frame,
which is why the merge application stays an array expression instead of a
driver-side dict. Plan depth is bounded with a localCheckpoint every few
iterations (the type table is small per node; the lineage would otherwise
grow by two ops per merge).

Differential check: tests/test_operators.py trains on a tiny corpus
against an independent sequential reference implementation.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves string type hints here

from pyspark.sql import DataFrame, SparkSession, functions as F

from pasardassist_spark.tables import local_frame

CHECKPOINT_EVERY = 5

# Scale-adaptive strategy switch (r17 VERDICT #4, the AQE philosophy
# applied to an iterative trainer): the corpus-sized work is the ONE
# word-type groupBy; the merge loop only ever touches the TYPE table.
# When that table is metadata-scale (<= this many types — a few MB of
# (word, cnt) pairs), 20 rounds of Spark jobs are pure scheduler
# overhead over a frame the driver holds trivially, so the refinement
# runs as the sequential loop the differential tests already pin
# (identical argmax tiebreak, identical greedy fold). Above the
# threshold — the 10-100 M-type regime a 100 TB corpus yields — the
# distributed loop is unchanged. The switch is measured (an exact
# count of the materialized type table), not guessed.
DRIVER_TYPES_MAX = 100_000


def _train_merges_seq(
    types: list[tuple[list[str], int]], n_merges: int
) -> list[tuple[str, str, int]]:
    """Sequential merge refinement over a collected type table —
    semantics identical to the distributed loop: pair counts weighted
    by type count, argmax on (count desc, left, right), stop below
    absolute count 2, greedy left-to-right non-overlapping merge."""
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pair_n: dict[tuple[str, str], int] = {}
        for syms, cnt in types:
            for pair in zip(syms, syms[1:]):
                pair_n[pair] = pair_n.get(pair, 0) + cnt
        best = None  # (-n, left, right): min == (count desc, lexical)
        for (left, right), n in pair_n.items():
            key = (-n, left, right)
            if best is None or key < best:
                best = key
        if best is None or -best[0] < 2:
            break
        n, left, right = -best[0], best[1], best[2]
        merges.append((left, right, n))
        nxt: list[tuple[list[str], int]] = []
        for syms, cnt in types:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            nxt.append((out, cnt))
        types = nxt
    return merges


def _char_symbols(word: str | F.Column) -> F.Column:
    # split between characters: not at start (no leading empty) and only
    # where a character follows (Spark's split keeps trailing empties that
    # a bare (?!^) would produce at end-of-string)
    return F.split(word, r"(?!^)(?=.)")


def _pair_counts(types_df: DataFrame) -> DataFrame:
    """Adjacent symbol pairs weighted by word count; one shuffle over the
    word-TYPE table."""
    pairs = F.when(
        F.size("syms") >= 2,
        F.transform(
            F.slice("syms", 1, F.size("syms") - 1),
            lambda x, i: F.struct(
                x.alias("left"), F.element_at("syms", i + 2).alias("right")
            ),
        ),
    ).otherwise(F.array())
    return (
        types_df.select(F.explode(pairs).alias("p"), "cnt")
        .groupBy("p.left", "p.right")
        .agg(F.sum("cnt").alias("n"))
    )


def _apply_merge(types_df: DataFrame, left: str, right: str) -> DataFrame:
    """Greedy left-to-right non-overlapping merge of (left, right) in every
    word's symbol array — a pure JVM aggregate fold. (A merged symbol
    can never re-match as ``left`` within the same pass unless
    left+right == left, impossible for non-empty right.)"""
    a, b = F.lit(left), F.lit(right)
    merged = F.aggregate(
        "syms",
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == a) & (x == b),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(a, b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return types_df.select(merged.alias("syms"), "cnt")


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
    from pasardassist_spark.operators.text import tokens

    types_df = (
        corpus.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(_char_symbols(F.col("w")).alias("syms"), "cnt")
        .localCheckpoint()
    )
    if types_df.count() <= driver_types_max:  # count of a materialized RDD
        rows = types_df.collect()
        types_df.unpersist()
        return _train_merges_seq(
            [(list(r["syms"]), int(r["cnt"])) for r in rows], n_merges
        )
    # Each localCheckpoint caches its RDD on the executors for the life of
    # the session; without unpersisting the predecessor, a long merge run
    # pins O(n_merges / CHECKPOINT_EVERY) dead copies of the type table.
    prev_ckpt = types_df
    merges: list[tuple[str, str, int]] = []
    for i in range(n_merges):
        top = (
            _pair_counts(types_df)
            .orderBy(F.desc("n"), "left", "right")
            .head(1)
        )
        if not top or top[0]["n"] < 2:
            break
        left, right, n = top[0]["left"], top[0]["right"], int(top[0]["n"])
        merges.append((left, right, n))
        types_df = _apply_merge(types_df, left, right)
        if (i + 1) % CHECKPOINT_EVERY == 0:
            types_df = types_df.localCheckpoint()  # eager: materializes now
            prev_ckpt.unpersist()
            prev_ckpt = types_df
    prev_ckpt.unpersist()
    return merges


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


def bpe_encode(
    corpus: DataFrame,
    text_col: str,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]] | DataFrame,
    id_col: str,
) -> DataFrame:
    """Tokenize the corpus with a TRAINED merge list — the actual
    tokenizer-application step of a training-data pipeline (the
    reference ships no tokenizer; at 100 TB this is the single most
    common corpus-wide transform after dedup).

    Scale shape mirrors training's word-TYPE trick: the corpus explodes
    to (doc, position, word) once, the DISTINCT word types (Zipf: types
    << tokens) are encoded ONE TIME each by an Arrow-batched pandas UDF
    (greedy merge is inherently per-word sequential — Python is
    justified here, over types only, never the token stream), and the
    type→subwords map joins back on the word equi-key (AQE broadcasts it
    when small; at 10-100 M types it stays a co-partitioned shuffle
    join). Per-doc order is restored by position before the flatten, so
    the output token sequence is exact.

    ``merges`` is either the ``train_bpe_merges`` return (a list in merge
    order) or the persisted ``bpe_merge_table`` DataFrame (ordered by its
    ``rank`` column — safe to pass straight from a parquet round-trip).

    Returns (id_col, bpe_tokens array<string>, n_bpe_tokens long).
    Documents whose text tokenizes to zero words are absent from the
    output (posexplode drops them).
    """
    from pyspark.sql.functions import pandas_udf

    from pasardassist_spark.operators.text import tokens

    ranks = _merge_ranks(merges)

    @pandas_udf("array<string>")
    def _encode(words: pd.Series) -> pd.Series:
        return words.map(lambda w: encode_word(w, ranks))

    doc_words = corpus.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "w"),
    )
    types = doc_words.select("w").distinct().select(
        "w", _encode(F.col("w")).alias("subs")
    )
    return (
        doc_words.join(types, "w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("pos", "subs"))
                ).subs
            ).alias("bpe_tokens")
        )
        .select(
            id_col,
            "bpe_tokens",
            F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
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
                F.split(F.array_join(tokens(F.col(text_col)), ""), r"(?!^)(?=.)")
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
