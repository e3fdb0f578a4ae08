"""N×-replica scale rows for registered queries.

    python tools/scale.py --reps N NAME...

Writes a 1× and an N× replica of the $SPARK_GRAFT_SF_DIR tables (default:
the sf0.1 test tables, TESTDATA.md) once into a temp dir, times every named
query on both with bench.py's warm-up and timed passes (noop sink; one
cold, min of two warm), prints one JSON line per (query, scale) and deletes
the temp dir.

Replica k of a table is the table with (``REPLICA``):
- every join key shifted by k * STRIDE, the same stride on both sides of
  each join (l_orderkey/o_orderkey, o_custkey/c_custkey,
  l_suppkey/s_suppkey, l_partkey/p_partkey) and on the entity ids
  event_id, user_id, doc_id and vec_id, so key spaces are disjoint;
- token-bearing columns tagged per replica (every document token,
  p_brand). Untagged copies are perfect cross-replica twins: dedup,
  blocking and shingle-graph queries would measure N² output blow-up
  instead of the engine;
- value domains jittered far below the data's own spacing (events.value
  by k * 1e-7, c_acctbal by k * 1e-5), so value-grain queries see N× the
  distinct values with each replica's tie structure intact.
region and nation are dimensions and are copied unchanged. The 1× copy goes
through the same writer (k = 0 only), so both scales share file layout and
tags, and a query whose output rows grow exactly N× saw no cross-replica
collision (tests/test_scale_replica.py pins this per table family).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from pasardassist_spark.tables import TABLES, load

# larger than every key at sf <= 1, and 200 replicas stay below 2^31 for
# queries that cast ids to int
STRIDE = 10_000_000


def _shift(k, *cols):
    return {c: F.col(c) + k * STRIDE for c in cols}


def _tag(k):
    """Letters-only replica tag ('qaz' for 0, 'qbcz' for 12): survives
    lowercasing and any alphanumeric tokenizer, and no tag is a prefix of
    another, so tagged tokens never collide across replicas."""
    digits = F.translate(k.cast("string"), "0123456789", "abcdefghij")
    return F.concat(F.lit("q"), digits, F.lit("z"))


# table -> (frame, replica id column) -> replica frame
REPLICA = {
    "customer": lambda df, k: df.withColumns({
        **_shift(k, "c_custkey"),
        "c_acctbal": F.col("c_acctbal") + k * 1e-5,
    }),
    "supplier": lambda df, k: df.withColumns(_shift(k, "s_suppkey")),
    "part": lambda df, k: df.withColumns({
        **_shift(k, "p_partkey"),
        "p_brand": F.concat(F.col("p_brand"), F.lit("-"), _tag(k)),
    }),
    "orders": lambda df, k: df.withColumns(
        _shift(k, "o_orderkey", "o_custkey")
    ),
    "lineitem": lambda df, k: df.withColumns(
        _shift(k, "l_orderkey", "l_partkey", "l_suppkey")
    ),
    "events": lambda df, k: df.withColumns({
        **_shift(k, "event_id", "user_id"),
        "value": F.col("value") + k * 1e-7,
    }),
    "documents": lambda df, k: df.withColumns({
        **_shift(k, "doc_id"),
        # the replacement is per row, so Java's $1 back-reference applies
        # to every letter/digit run: "a-b" -> "qbza-qbzb"
        "text": F.regexp_replace(
            "text", F.lit(r"([\p{L}\p{N}]+)"), F.concat(_tag(k), F.lit("$1"))
        ),
    }),
    "embeddings": lambda df, k: df.withColumns(_shift(k, "vec_id")),
}


def build_replica(spark, sf_dir: str, reps: int, out_dir: str) -> str:
    """Write ``reps`` replicas of every table under ``sf_dir`` to
    ``out_dir`` (one parquet dir per table, the layout ``tables.load``
    reads) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    ks = F.broadcast(spark.range(reps).withColumnRenamed("id", "_rep"))
    for name in TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name not in REPLICA:
            shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), dst)
            continue
        rep = REPLICA[name](load(spark, sf_dir, name).crossJoin(ks), F.col("_rep"))
        rep.drop("_rep").write.mode("overwrite").parquet(dst)
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, required=True)
    ap.add_argument("names", nargs="+", metavar="NAME")
    args = ap.parse_args()

    import bench
    from pasardassist_spark import get_spark
    from pasardassist_spark.queries import all_queries
    from pasardassist_spark.tables import DEFAULT_SF_DIR

    qs = all_queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        raise SystemExit(f"not registered queries: {unknown}")
    spark = get_spark("pasardassist-scale")
    base = tempfile.mkdtemp(prefix="scale_")
    try:
        dirs = {
            reps: build_replica(spark, DEFAULT_SF_DIR, reps, f"{base}/x{reps}")
            for reps in (1, args.reps)
        }
        bench.warm_up(spark, qs, DEFAULT_SF_DIR)
        for reps, sf_dir in dirs.items():
            cold, warm = bench.cold_and_warm(spark, qs, args.names, sf_dir)
            for name in args.names:
                rows = qs[name](spark, sf_dir).count()
                bench.release_all(spark)
                print(json.dumps({
                    "query": name, "reps": reps, "cold_s": cold[name],
                    "warm_s": warm[name], "rows": rows,
                    "cpus": spark.sparkContext.defaultParallelism,
                }), flush=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
