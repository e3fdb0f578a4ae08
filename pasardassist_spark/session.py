"""SparkSession factory — BOTH deployment profiles as code.

``profile="local"`` (default): local[$SPARK_GRAFT_CPUS] for tests/bench;
unset, the core count is the cores this process may run on
(``os.sched_getaffinity``).
``profile="cluster"``: the same engine sized for the 100 TB deployment
target (r17 VERDICT #3 — this used to live in comments): shuffle
parallelism 3x total executor cores (AQE coalesces the excess after
runtime stats), explicit AQE skew-split thresholds (popular-collection
key skew is expected in the reference domain, SURVEY.md §4), a
dim-stats-derived broadcast threshold, and 256 MiB scan splits so a
1000-executor scan of 100 TB lands ~400k input tasks, not 4M.

Shared invariants across profiles: AQE on, UTC session timezone (oracle
comparability), Arrow for the Pandas-UDF slow path, NANOS-as-long
parquet reads (the events table encodes TIMESTAMP(NANOS)), and two
Spark 4 defaults turned off because they cost time and do no work the
engine needs:

- ``spark.sql.icu.caseMappings.enabled=false``: ``lower``/``upper`` take
  ``UTF8String``'s ASCII fast path, else the JVM's
  ``String.toLowerCase``/``toUpperCase`` (default locale, as ICU's).
  With ICU on, the first case mapping in a JVM builds ICU's title-case
  lookup table: about 650 ms on 4 cores, paid by the first request that
  lowercases anything. The JVM tables are JDK 17's Unicode 13, so a
  Unicode 14 letter (U+A7D0) keeps its case; ``initcap`` differs from
  ICU on some one-to-many mappings and the package does not call it.
- ``spark.python.sql.dataFrameDebugging.enabled=false`` (static: only
  the builder can set it): PySpark 4 wraps every ``functions``/
  ``Column`` call to capture its Python call site for error messages —
  a conf read, two py4j calls and a stack walk that tries
  ``import IPython, ipykernel`` (where IPython is installed without
  ipykernel, the first call imports IPython and every call retries the
  failing import). Off, building one round of the 10 ``api_serving``
  endpoint families makes about 1,400 py4j round trips instead of about
  3,800. Errors lose their "DataFrame query context" block.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def broadcast_threshold(largest_dim_bytes: int | None) -> int:
    """Broadcast-join threshold from dimension-table stats: generous
    enough that every true dimension (region/nation/part/supplier-grade
    tables — the reference's lookup side) broadcasts with 2x headroom
    for decompression/row overhead, clamped to [64 MiB, 512 MiB] so a
    mis-measured "dimension" can never OOM the driver. Pass the byte
    size of the LARGEST table you want on the build side (from table
    stats / file footers); None keeps the 64 MiB floor."""
    floor, ceil = 64 * 1024 * 1024, 512 * 1024 * 1024
    if largest_dim_bytes is None:
        return floor
    return max(floor, min(2 * int(largest_dim_bytes), ceil))


def build_conf(
    profile: str = "local",
    total_cores: int | None = None,
    largest_dim_bytes: int | None = None,
) -> dict[str, str]:
    """The profile's Spark conf as a pure dict (testable without a JVM).

    cluster sizing rules:
    - ``spark.sql.shuffle.partitions`` = 3 x total executor cores
      (``SPARK_GRAFT_TOTAL_CORES``, default 4000 = 1000 executors x 4):
      enough granularity that AQE's post-shuffle coalescing — not a
      too-small static number — decides final parallelism, and no single
      reducer partition of a 100 TB shuffle exceeds executor memory.
    - AQE skew split: a shuffle partition > 256 MiB AND > 3x the median
      splits (``skewedPartitionThresholdInBytes`` must be >= the 128 MiB
      advisory size, which also steers coalescing).
    - scan splits 256 MiB (``files.maxPartitionBytes``): ~400k tasks for
      a full 100 TB scan — large enough to amortize task overhead, small
      enough to rebalance stragglers.
    """
    mb = 1024 * 1024
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # parquet reader rejects; read as long nanos, tables.load
        # converts (lossless: generator emits microsecond-aligned).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(
            broadcast_threshold(largest_dim_bytes)
        ),
        # both cost time and do no work the engine needs (module docstring)
        "spark.sql.icu.caseMappings.enabled": "false",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if profile == "local":
        cpus = _cpus()
        conf.update({
            # shuffle partitions ~ cores locally; AQE coalesces
            "spark.sql.shuffle.partitions": str(cpus),
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "16g"
            ),
            "spark.ui.enabled": "false",
        })
    elif profile == "cluster":
        cores = int(
            total_cores
            or os.environ.get("SPARK_GRAFT_TOTAL_CORES", str(1000 * 4))
        )
        conf.update({
            "spark.sql.shuffle.partitions": str(3 * cores),
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(128 * mb),
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "3",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                str(256 * mb),
            "spark.sql.files.maxPartitionBytes": str(256 * mb),
            # a 100 TB shuffle must survive executor loss without
            # recomputing upstream stages wholesale
            "spark.decommission.enabled": "true",
            "spark.storage.decommission.shuffleBlocks.enabled": "true",
        })
    else:
        raise ValueError(f"unknown profile {profile!r}")
    return conf


def get_spark(
    app_name: str = "pasardassist-spark", profile: str | None = None
) -> SparkSession:
    profile = profile or os.environ.get("SPARK_GRAFT_PROFILE", "local")
    builder = SparkSession.builder.appName(app_name)
    if profile == "local":
        builder = builder.master(f"local[{_cpus()}]")
    elif os.environ.get("SPARK_GRAFT_MASTER"):
        # cluster profile normally inherits the master from spark-submit;
        # the env override lets tests engage the profile on local[N]
        builder = builder.master(os.environ["SPARK_GRAFT_MASTER"])
    for key, val in build_conf(profile).items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
