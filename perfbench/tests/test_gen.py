"""The generators are pure functions of the seed."""

import hashlib
import os

from perfbench import gen


def _digests(paths) -> dict[str, str]:
    out = {}
    for p in paths:
        with open(p, "rb") as fh:
            out[os.path.basename(p)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _all(seed: int, root: str) -> dict[str, str]:
    ent, _ = gen.entity_tables(seed, os.path.join(root, "ent"))
    tp = gen.tpch_tables(seed, os.path.join(root, "tpch"), 0.0005)
    ev = gen.event_files(seed, os.path.join(root, "ev"), 600, 50, 3)
    return _digests(list(ent.values()) + list(tp.values()) + ev)


def test_same_seed_same_digests_other_seed_differs(tmp_path):
    a = _all(7, str(tmp_path / "a"))
    b = _all(7, str(tmp_path / "b"))
    c = _all(8, str(tmp_path / "c"))
    assert a == b
    # every table changes with the seed, except the fixed dimension tables
    fixed = {"region.parquet", "nation.parquet"}
    assert {k for k in a if a[k] == c[k]} == fixed


def test_entity_tables_match_the_api_schemas(tmp_path):
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from pasardassist_spark.api import schemas as S

    paths, keys = gen.entity_tables(3, str(tmp_path))
    for name, schema in [("tokens", S.TOKENS_SCHEMA), ("orders", S.ORDERS_SCHEMA),
                         ("token_events", S.TOKEN_EVENTS_SCHEMA),
                         ("order_events", S.ORDER_EVENTS_SCHEMA),
                         ("collections", S.COLLECTIONS_SCHEMA)]:
        assert pq.read_schema(paths[name]).remove_metadata() == to_arrow_schema(schema)
    tokens = pq.read_table(paths["tokens"]).to_pandas()
    assert tokens["tokenId"].is_unique and tokens["uniqueKey"].is_unique
    # Zipf skew: the most popular collection holds far more than 1/48 of tokens
    top = (tokens["chain"] + "-" + tokens["contract"]).value_counts().iloc[0]
    assert top > 5 * len(tokens) / len(keys["collections"])


def test_event_files_are_time_ordered_and_cover_every_event(tmp_path):
    import pandas as pd
    import pyarrow.parquet as pq

    paths = gen.event_files(5, str(tmp_path), 1000, 40, 4)
    frames = [pq.read_table(p).to_pandas() for p in paths]
    ev = pd.concat(frames)
    assert len(ev) == 1000 and ev["event_id"].is_unique
    assert ev["ts"].is_monotonic_increasing


def test_token_events_follow_the_fixture_domains(tmp_path):
    """FIXTURES.md section A: mints and burns ~10% each of token_events,
    value 1 for ERC-721 and 1-100 for ERC-1155, and uniqueKey the bare
    tokenId in a chain's base collection, composite elsewhere."""
    import pyarrow.parquet as pq

    paths, _ = gen.entity_tables(4, str(tmp_path))
    te = pq.read_table(paths["token_events"]).to_pandas()
    for share in ((te["from"] == gen.BURN).mean(), (te["to"] == gen.BURN).mean()):
        assert 0.08 < share < 0.12
    assert te["value"].between(1, 100).all()
    top = te.groupby("contract")["value"].max()
    assert 0 < (top > 1).sum() < len(top)  # some ERC-1155 collections, not all
    tokens = pq.read_table(paths["tokens"]).to_pandas()
    base = tokens["uniqueKey"] == tokens["tokenId"]
    assert base.any() and tokens[base]["chain"].is_unique is False
    assert tokens[base].groupby("chain")["contract"].nunique().max() == 1
    rest = tokens[~base]
    assert (rest["uniqueKey"] == rest["chain"] + "-" + rest["contract"] + "-" + rest["tokenId"]).all()
