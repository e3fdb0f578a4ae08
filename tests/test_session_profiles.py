"""Deployment-profile config as code (r17 VERDICT #3).

``session.build_conf`` is a pure dict so the sizing rules — cluster
shuffle parallelism 3x total cores, AQE skew gates, scan split size,
stats-derived broadcast threshold — are testable without a JVM; the
final test then proves the cluster profile's REAL skew thresholds
(256 MiB partition gate, 3x median factor, 128 MiB advisory) engage
AQE's OptimizeSkewedJoin on a hot-key fixture, not just parse.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pasardassist_spark.session import broadcast_threshold, build_conf

MB = 1024 * 1024


def test_local_profile_sizing(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    conf = build_conf("local")
    assert conf["spark.sql.shuffle.partitions"] == "8"
    # shared invariants (oracle comparability + Arrow slow path)
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.session.timeZone"] == "UTC"
    assert conf["spark.sql.execution.arrow.pyspark.enabled"] == "true"
    assert conf["spark.sql.legacy.parquet.nanosAsLong"] == "true"


def test_cluster_profile_sizing_explicit_cores():
    conf = build_conf("cluster", total_cores=4000)
    # 3x total executor cores; AQE coalesces the excess post-shuffle
    assert conf["spark.sql.shuffle.partitions"] == str(3 * 4000)
    assert conf["spark.sql.adaptive.coalescePartitions.enabled"] == "true"
    # skew gate must sit at/above the advisory size or splits re-coalesce
    thresh = int(
        conf["spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"]
    )
    advisory = int(conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"])
    assert thresh >= advisory
    assert thresh == 256 * MB
    assert conf["spark.sql.adaptive.skewJoin.skewedPartitionFactor"] == "3"
    # 256 MiB scan splits: ~400k tasks for a 100 TB scan
    assert int(conf["spark.sql.files.maxPartitionBytes"]) == 256 * MB
    # shuffle data must survive executor decommission at this scale
    assert conf["spark.decommission.enabled"] == "true"


def test_cluster_profile_sizing_from_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_TOTAL_CORES", "512")
    conf = build_conf("cluster")
    assert conf["spark.sql.shuffle.partitions"] == str(3 * 512)


@pytest.mark.parametrize("profile", ["local", "cluster"])
def test_spark4_session_taxes_are_off_in_both_profiles(profile):
    conf = build_conf(profile, total_cores=8)
    assert conf["spark.sql.icu.caseMappings.enabled"] == "false"
    assert conf["spark.python.sql.dataFrameDebugging.enabled"] == "false"


def test_debugging_conf_reaches_the_session(spark):
    """Static conf: it only works when ``get_spark`` puts it on the builder."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_lower_upper_without_icu(spark):
    """``lower``/``upper`` with ICU case mapping off: the ASCII fast path,
    else the JVM's ``String.toLowerCase``/``toUpperCase``. Pinned over
    Latin-1, full-mapping, Greek final sigma, Cyrillic, dotted-capital-I
    and CJK strings; ICU gives the same on each of these."""
    probes = [
        # (text, lower, upper)
        ("Ärger Öl Übel", "ärger öl übel", "ÄRGER ÖL ÜBEL"),
        ("straße", "straße", "STRASSE"),
        ("ΟΔΥΣΣΕΥΣ", "οδυσσευς", "ΟΔΥΣΣΕΥΣ"),
        ("Москва", "москва", "МОСКВА"),
        ("İstanbul", "i" + chr(0x307) + "stanbul", "İSTANBUL"),
        ("東京タワー", "東京タワー", "東京タワー"),
        ("plain ASCII", "plain ascii", "PLAIN ASCII"),
    ]
    df = spark.createDataFrame([(t,) for t, _, _ in probes], "s string")
    got = df.select(F.lower("s").alias("lo"), F.upper("s").alias("up")).collect()
    assert [(r.lo, r.up) for r in got] == [(lo, up) for _, lo, up in probes]


def test_case_mapping_follows_the_jvm_tables(spark):
    """U+A7D0 is Unicode 14. ICU and Python's ``str.lower`` map it to
    U+A7D1; the JVM maps it only when its tables have it (JDK 17's are
    Unicode 13, so there it stays U+A7D0). Keyword search lowercases both
    sides with Spark's ``lower`` for this reason (tests/test_api.py)."""
    ch = chr(0xA7D0)
    jvm_lower = chr(spark.sparkContext._jvm.java.lang.Character.toLowerCase(0xA7D0))
    (r,) = spark.createDataFrame([(ch,)], "s string").select(
        F.lower("s").alias("lo")
    ).collect()
    assert r.lo == jvm_lower
    assert ch.lower() == chr(0xA7D1)


def test_package_calls_no_initcap():
    """``initcap`` is the one case function the ICU-off conf changes
    beyond U+A7D0 (one-to-many title cases such as U+FB03 or U+0149), so
    the package must not call it without revisiting that conf."""
    import ast
    import os
    import re

    import pasardassist_spark

    sql = re.compile(r"\binitcap\s*\(", re.IGNORECASE)
    root = os.path.dirname(pasardassist_spark.__file__)
    hits = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                name = None
                if isinstance(node, ast.Call):
                    fn = node.func
                    name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                if name == "initcap" or (
                    isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and sql.search(node.value)
                ):
                    hits.append(f"{os.path.relpath(path, root)}:{node.lineno}")
    assert not hits, f"initcap calls: {hits}"


def test_unknown_profile_raises():
    with pytest.raises(ValueError, match="unknown profile"):
        build_conf("yarn-client")


def test_broadcast_threshold_from_dim_stats():
    # None -> conservative floor
    assert broadcast_threshold(None) == 64 * MB
    # 2x headroom over the measured largest dimension
    assert broadcast_threshold(100 * MB) == 200 * MB
    # small dims never drop below the floor ...
    assert broadcast_threshold(1 * MB) == 64 * MB
    # ... and a mis-measured "dimension" can never OOM the driver
    assert broadcast_threshold(100 * 1024 * MB) == 512 * MB
    conf = build_conf("cluster", total_cores=400, largest_dim_bytes=100 * MB)
    assert conf["spark.sql.autoBroadcastJoinThreshold"] == str(200 * MB)


def test_cluster_skew_gates_engage_at_real_thresholds(spark):
    """Drive a hot-key join whose hot partition exceeds the cluster
    profile's REAL 256 MiB skew gate (incompressible sha2 pad defeats
    shuffle lz4, ~1.4M x 512 B hot rows) and assert AQE splits it
    (``skew=true`` in the final adaptive plan). Only the skew-relevant
    keys are scoped in — shuffle.partitions is parallelism sizing, not
    skew behavior, and 12k tasks would swamp local[8]."""
    from pyspark.sql import functions as F

    from pasardassist_spark.plans.runtime_filters import _scoped_confs

    conf = build_conf("cluster", total_cores=4000)
    scoped = {
        k: v
        for k, v in conf.items()
        if "skewJoin" in k
        or "advisoryPartitionSize" in k
        or k == "spark.sql.adaptive.enabled"
    }
    # force the shuffle join + keep the skewed partition visible
    scoped["spark.sql.autoBroadcastJoinThreshold"] = "-1"
    scoped["spark.sql.adaptive.autoBroadcastJoinThreshold"] = "-1"
    scoped["spark.sql.adaptive.coalescePartitions.enabled"] = "false"
    with _scoped_confs(spark, scoped):
        pad = F.concat(
            *[
                F.sha2(
                    F.concat(F.col("id").cast("string"), F.lit(str(i))), 256
                )
                for i in range(8)
            ]
        )
        hot = F.when(F.col("id") % 20 > 0, F.lit(7)).otherwise(F.col("id"))
        big = spark.range(1_500_000).select(hot.alias("k"), pad.alias("pad"))
        dim = spark.range(200).select(
            F.col("id").alias("k"), F.lit("d").alias("w")
        )
        j = big.join(dim, "k").select(F.sum(F.length("pad")).alias("s"))
        j.collect()
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in p, (
            "cluster-profile skew gates did not split the hot partition"
        )
