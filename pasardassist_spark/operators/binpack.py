"""Sequence packing WITHOUT document splitting — histogram bin packing.

pack_sequences (packing.py) concatenates and cuts: zero padding, but a
document can straddle a sequence boundary (cross-contamination unless
the trainer masks). The complement — used when documents must stay
whole — is bin packing into fixed-budget sequences. Krell et al. 2021
("Efficient Sequence Packing without Cross-contamination",
arXiv:2107.02027) observe that packing only needs the LENGTH HISTOGRAM
(at most ``budget`` distinct lengths), which collapses the classic
driver-scale objection: the NP-hard part runs on <= 512 histogram bins
driver-side in microseconds, and the corpus-sized work is embarrassingly
parallel rank arithmetic.

Plan shape:
1. histogram — one corpus groupBy(length): <= budget rows, collected.
2. shortest-pack-first greedy on the histogram (their SPFHP; the pack
   with least remaining space that fits wins — best-fit — with a
   max-sequences-per-pack depth cap): emits STRATEGIES (length multisets
   summing <= budget) with instance counts, deterministically ordered.
3. strategy layout unrolled to per-(strategy, length) CONSUMPTION BLOCKS
   — "ranks [s, e) of length l go to packs [offset, offset + count) mu
   at a time" — still metadata-scale, broadcast.
4. each doc's rank within its length via the two-phase distributed
   prefix sum (packing.py) on the composite key length<<40 | id — never
   a global or per-length single-task sort; then pack_id is pure column
   math against the broadcast blocks.

Docs longer than the budget cannot pack; they get dedicated packs after
the packed range, flagged ``overflow`` (the caller truncates or rejects
— policy, not packing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from pasardassist_spark.operators.packing import exclusive_prefix_sum
from pasardassist_spark.tables import local_frame

_KEY_SHIFT = 1 << 40  # composite rank key: length * SHIFT + id


def spfhp_strategies(
    hist: list[tuple[int, int]], budget: int, max_depth: int = 16
) -> list[tuple[tuple[int, ...], int]]:
    """Shortest-pack-first histogram packing (Krell et al. 2021 §4.2) —
    pure Python on <= ``budget`` bins. Lengths processed longest-first;
    each count is placed into the open strategy group with the LEAST
    remaining space that still fits (ties: oldest group), splitting
    groups when only part of a group can absorb the count; no fit opens
    a fresh group. Returns [(sorted-desc length tuple, count)] in
    deterministic creation order.
    """
    if any(l > budget for l, _ in hist):
        raise ValueError("spfhp: length exceeds budget (filter overflow first)")
    # open groups: [remaining_space, depth, lengths, count, created]
    groups: list[list] = []
    serial = 0
    for length, count in sorted(hist, key=lambda t: -t[0]):
        c = count
        while c > 0:
            fits = [g for g in groups if g[0] >= length and g[1] < max_depth and g[3] > 0]
            if not fits:
                groups.append([budget - length, 1, (length,), c, serial])
                serial += 1
                c = 0
                continue
            g = min(fits, key=lambda g: (g[0], g[4]))
            m = min(c, g[3])
            g[3] -= m
            groups.append(
                [g[0] - length, g[1] + 1, g[2] + (length,), m, serial]
            )
            serial += 1
            c -= m
    return [(tuple(g[2]), g[3]) for g in sorted(groups, key=lambda g: g[4]) if g[3] > 0]


def _layout_blocks(
    strategies: list[tuple[tuple[int, ...], int]]
) -> tuple[list[tuple[int, int, int, int, int]], int]:
    """Unroll strategies to per-(strategy, length) consumption blocks:
    (length, start_rank, end_rank, pack_offset, mu). Ranks are 0-based
    within each length, consumed in strategy order; pack p in
    [offset, offset+count) takes ranks start + p'*mu .. +mu."""
    next_rank: dict[int, int] = {}
    blocks = []
    pack_offset = 0
    for lengths, count in strategies:
        mult: dict[int, int] = {}
        for l in lengths:
            mult[l] = mult.get(l, 0) + 1
        for l, mu in sorted(mult.items()):
            s = next_rank.get(l, 0)
            e = s + mu * count
            next_rank[l] = e
            blocks.append((l, s, e, pack_offset, mu))
        pack_offset += count
    return blocks, pack_offset


def pack_bfd(
    df: DataFrame,
    id_col: str,
    len_col: str,
    budget: int,
    max_depth: int = 16,
) -> DataFrame:
    """Assign every row to a pack: (id, length, pack_id, overflow).

    Packed docs: sum of lengths per pack <= budget, <= max_depth docs
    per pack, deterministic under any partitioning (ranks come from the
    two-phase prefix sum on the composite length/id key). Overflow docs
    (length > budget) get one pack each after the packed range.
    """
    from pyspark import StorageLevel

    d = df.select(
        F.col(id_col).alias("_id").cast("long"),
        F.col(len_col).cast("long").alias("n_tokens"),
    )
    # Materialize the (id, length) skeleton ONCE. The packing flow reads it
    # from five distinct plan subtrees (histogram collect, two prefix-sum
    # bounds actions, the ranked/offsets/shorter aggregates, the overflow
    # branch); without this every pass re-runs the caller's upstream —
    # typically a full-corpus tokenize, the dominant per-row cost (measured
    # r13: 6 redundant tokenize passes = ~60% of query wall). Two longs per
    # doc (~16 B/row) is cacheable at any corpus size; MEMORY_AND_DISK
    # spills rather than recomputes on a tight cluster.
    d = d.persist(StorageLevel.MEMORY_AND_DISK)
    ok = d.filter(F.col("n_tokens") <= budget)
    # ONE driver action for everything metadata-sized: the length
    # histogram, the composite-key bound check, and the key ranges both
    # exclusive_prefix_sum calls need (passed as ``bounds`` so neither
    # runs its own min/max action — 3 corpus actions collapsed to 1).
    hrows = d.groupBy("n_tokens").agg(
        F.count(F.lit(1)).alias("c"),
        F.min("_id").alias("mn"),
        F.max("_id").alias("mx"),
    ).collect()
    okrows = [r for r in hrows if r.n_tokens <= budget]
    overrows = [r for r in hrows if r.n_tokens > budget]
    if any(r.mx >= _KEY_SHIFT for r in okrows):
        raise ValueError(
            f"pack_bfd: id exceeds the composite-key bound 2^40; "
            f"re-key ids densely first"
        )
    ok_bounds = (
        min(r.n_tokens * _KEY_SHIFT + r.mn for r in okrows),
        max(r.n_tokens * _KEY_SHIFT + r.mx for r in okrows),
    ) if okrows else None
    over_bounds = (
        min(r.mn for r in overrows),
        max(r.mx for r in overrows),
    ) if overrows else None
    hist = [(r.n_tokens, r.c) for r in okrows]
    strategies = spfhp_strategies(hist, budget, max_depth)
    blocks, n_packs = _layout_blocks(strategies)
    spark = df.sparkSession
    bdf = F.broadcast(
        local_frame(
            spark,
            blocks or [(0, 0, 0, 0, 1)],
            "n_tokens long, s long, e long, off long, mu long",
        )
    )
    # value=1 per row -> exclusive count = 0-based global rank; the
    # composite key is unique so ties cannot share ranks
    ranked = (
        ok.withColumn("_k", F.col("n_tokens") * _KEY_SHIFT + F.col("_id"))
        .withColumn("_one", F.lit(1))
    )
    ranked = exclusive_prefix_sum(
        ranked, "_k", "_one", out="_grank", bounds=ok_bounds
    )
    # rank within length = global rank - docs of strictly shorter lengths
    shorter = (
        ok.groupBy("n_tokens")
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn(
            "_before",
            F.coalesce(
                F.sum("_c").over(
                    W.orderBy("n_tokens").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .drop("_c")
    )
    packed = (
        ranked.join(F.broadcast(shorter), "n_tokens")
        .withColumn("_rank", F.col("_grank") - F.col("_before"))
        .join(
            bdf,
            ["n_tokens"],
        )
        .filter((F.col("_rank") >= F.col("s")) & (F.col("_rank") < F.col("e")))
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            (
                F.col("off")
                + F.floor((F.col("_rank") - F.col("s")) / F.col("mu"))
            ).cast("long").alias("pack_id"),
            F.lit(False).alias("overflow"),
        )
    )
    over = d.filter(F.col("n_tokens") > budget)
    over_ranked = exclusive_prefix_sum(
        over.withColumn("_one", F.lit(1)),
        "_id",
        "_one",
        out="_grank",
        bounds=over_bounds,
    )
    overflow = over_ranked.select(
        F.col("_id").alias(id_col),
        "n_tokens",
        (F.lit(n_packs) + F.col("_grank")).cast("long").alias("pack_id"),
        F.lit(True).alias("overflow"),
    )
    return packed.unionByName(overflow)
