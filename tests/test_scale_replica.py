"""The N×-replica rule of tools/scale.py: every replicated table grows
exactly N-fold, and no replica row collides with another replica's, so a
query's output grows exactly N-fold too. Pinned at N = 2 with one query per
replicated table family: the fact-fact join (lineitem/orders/supplier),
the customer-supplier trade graph, document shingles (token tags),
brand-blocked part linkage (p_brand tags) and per-user event sessions."""

from __future__ import annotations

import pytest

from tools.scale import REPLICA, build_replica

FAMILY_QUERIES = [
    "a11_collection_stats",
    "graph_pagerank",
    "dedup_setjoin_prefix",
    "link_records_clusters",
    "sess_gap_sessionize",
]


@pytest.fixture(scope="module")
def replicas(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("replica")
    return {
        reps: build_replica(spark, sf_dir, reps, str(base / f"x{reps}"))
        for reps in (1, 2)
    }


def test_every_transform_doubles_rows(spark, sf_dir, replicas):
    for name in REPLICA:
        n = spark.read.parquet(f"{sf_dir}/{name}.parquet").count()
        assert spark.read.parquet(f"{replicas[1]}/{name}.parquet").count() == n
        assert spark.read.parquet(f"{replicas[2]}/{name}.parquet").count() == 2 * n


@pytest.mark.parametrize("name", FAMILY_QUERIES)
def test_query_output_doubles(spark, replicas, name):
    from pasardassist_spark.queries.registry import REGISTRY, _load_all

    _load_all()
    fn = REGISTRY[name].fn
    one = fn(spark, replicas[1]).count()
    assert one > 0
    assert fn(spark, replicas[2]).count() == 2 * one
