"""Differential test: every registered query with an oracle must match DuckDB
on the sf0.001 tables — the local mirror of the driver's t2 gate."""

from __future__ import annotations

import pytest

from pasardassist_spark.queries.registry import REGISTRY, _load_all

_load_all()
CASES = sorted(name for name, spec in REGISTRY.items() if spec.oracle)
NO_ORACLE = sorted(name for name, spec in REGISTRY.items() if not spec.oracle)


def _assert_driver_hashable_schema(df, name):
    """Registry hygiene: the driver's canonicalization sorts the result in
    pandas and hashes cell values — Array/Map cells are unhashable there
    (the r10 ``wordpiece_encode_corpus`` red row).  No registered query
    may expose a container-typed output column; keep array forms on the
    library returns and project scalars in the registered query."""
    from pyspark.sql.types import ArrayType, MapType

    bad = [f.name for f in df.schema.fields if isinstance(f.dataType, (ArrayType, MapType))]
    assert not bad, f"{name}: container-typed output columns {bad} break driver canonicalization"


@pytest.mark.parametrize("name", CASES)
def test_query_matches_oracle(spark, sf_dir, name):
    from tests.oracle_compare import assert_matches_oracle

    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    _assert_driver_hashable_schema(df, name)
    assert_matches_oracle(df, spec.oracle, sf_dir, name=name)


@pytest.mark.parametrize("name", NO_ORACLE)
def test_query_runs(spark, sf_dir, name):
    """Rows-only check for non-SQL-expressible ops (driver's weaker gate)."""
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    _assert_driver_hashable_schema(df, name)
    assert df.count() >= 0
    assert len(df.schema) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_a13_approx_within_rank_tolerance(spark, sf_dir):
    """The approx_percentile twin's guarantee is in RANK space, not value
    space (a heavy tail puts adjacent ranks far apart in value): the
    fraction of group values at-or-below the approximate quantile must
    bracket the target quantile. accuracy=10000 bounds the sketch's rank
    error to 1e-4; the slack here is discreteness (approx returns a true
    data value, so up to one tied run of values shifts the fraction)."""
    from pyspark.sql import functions as F

    from pasardassist_spark.tables import load

    from pasardassist_spark.queries.aggregates import approx_percentiles

    exact = {r.event_type: r for r in REGISTRY["a13_percentiles"].fn(spark, sf_dir).collect()}
    # the raw production twin (the registered query is the oracle-gated
    # bracket form since r18; its booleans are asserted below too)
    approx = {
        r.event_type: r
        for r in approx_percentiles(
            load(spark, sf_dir, "events")
        ).collect()
    }
    assert set(exact) == set(approx)
    gated = REGISTRY["a13_percentiles_approx"].fn(spark, sf_dir).collect()
    assert gated and all(r.p50_ok and r.p90_ok and r.p99_ok for r in gated)
    ev = load(spark, sf_dir, "events").select("event_type", "value").cache()
    counts = {r.event_type: r.n for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    try:
        for et, a in approx.items():
            assert a.vmax == exact[et].vmax
            n = counts[et]
            for q, target in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
                v = getattr(a, q)
                at_or_below, below = ev.filter(F.col("event_type") == et).agg(
                    F.sum((F.col("value") <= v).cast("long")),
                    F.sum((F.col("value") < v).cast("long")),
                ).first()
                eps = 1e-4 + 1.0 / n  # sketch error + one-rank discreteness
                assert at_or_below / n >= target - eps, f"{et}.{q}={v} ranks too low"
                assert below / n <= target + eps, f"{et}.{q}={v} ranks too high"
    finally:
        ev.unpersist()


def test_driver_window_covers_unverified_entries():
    """Registry hygiene guard (round-2 lesson): the driver correctness gate
    checks only the first DRIVER_WINDOW entries of queries(); every entry
    without an archived green driver row (or changed since it) MUST order
    inside that window, or it silently escapes verification."""
    from pasardassist_spark.queries.registry import (
        DRIVER_WINDOW,
        all_queries,
        needs_driver_check,
    )

    names = list(all_queries())
    escaped = [
        n for i, n in enumerate(names) if needs_driver_check(n) and i >= DRIVER_WINDOW
    ]
    assert not escaped, (
        f"{len(escaped)} unverified queries fall outside the driver's "
        f"{DRIVER_WINDOW}-entry window: {escaped}. Either trim the registry "
        "or extend _DRIVER_GREEN only with names that have a green "
        "CORRECTNESS row."
    )


def test_archive_names_exist():
    """Every archived name must still be a registered query (catches renames
    that would silently mark a new query as verified)."""
    from pasardassist_spark.queries.registry import _DRIVER_GREEN, _FORCE_RECHECK

    missing = (_DRIVER_GREEN | _FORCE_RECHECK) - set(REGISTRY)
    assert not missing, f"archived names not in registry: {sorted(missing)}"


def test_bench_names_are_registered_queries():
    """Every name bench.py lists (HEADLINE, NOT_BENCHED) must be a
    registered query — a stale name would fail the bench run or silently
    bench a query meant to be skipped. The extras pass is derived from the
    registry, so it cannot hold a typo."""
    import bench

    listed = bench.HEADLINE + bench.NOT_BENCHED
    missing = [n for n in listed if n not in REGISTRY]
    assert not missing, f"bench names not in registry: {missing}"
    dupes = sorted({n for n in listed if listed.count(n) > 1})
    assert not dupes, f"names listed twice in bench.py: {dupes}"


def test_setjoin_naive_allpairs_oracle(spark, sf_dir):
    """The registered dedup_setjoin_prefix oracle enumerates candidates by
    shingle equi-join (feasible at sf0.1); THIS pin keeps the fully-naive
    all-pairs certificate — no candidate generation at all — at pytest
    SF, so the equi-join rewrite can never mask a recall loss."""
    from pasardassist_spark.queries.dedup import SETJOIN_NAIVE_ORACLE
    from tests.oracle_compare import assert_matches_oracle

    spec = REGISTRY["dedup_setjoin_prefix"]
    assert_matches_oracle(
        spec.fn(spark, sf_dir), SETJOIN_NAIVE_ORACLE, sf_dir,
        name="dedup_setjoin_prefix[naive]",
    )


def test_link_naive_uncollapsed_oracle(spark, sf_dir):
    """The registered link_records_clusters oracle collapses exact
    (brand, name) duplicates before the fixpoint (feasible at sf0.1);
    THIS pin keeps the one-node-per-row certificate at pytest SF, so the
    collapse step itself stays independently verified."""
    from pasardassist_spark.queries.library import LINK_NAIVE_ORACLE
    from tests.oracle_compare import assert_matches_oracle

    spec = REGISTRY["link_records_clusters"]
    assert_matches_oracle(
        spec.fn(spark, sf_dir), LINK_NAIVE_ORACLE, sf_dir,
        name="link_records_clusters[naive]",
    )
