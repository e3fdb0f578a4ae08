"""The API oracles accept the right reply and reject a planted wrong one."""

import numpy as np
import pytest

from perfbench import api_oracles, api_serving, gen


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    paths, keys = gen.entity_tables(11, str(tmp_path_factory.mktemp("ent")))
    o = api_oracles.Oracle(paths)
    yield o, keys
    o.close()


def _as_rows(oracle, family, p):
    cols = api_oracles.CHECKED[family]
    return [dict(zip(cols, r)) for r in oracle.rows(family, p)]


@pytest.mark.parametrize("family", api_serving.FAMILIES)
def test_oracle_reply_matches_itself_and_a_changed_value_does_not(oracle, family):
    o, keys = oracle
    rng = np.random.default_rng(3)
    for _ in range(20):  # find parameters with a non-empty reply
        p = api_serving.request_params(rng, family, keys)
        rows = _as_rows(o, family, p)
        if rows:
            break
    assert rows, family
    assert o.matches(family, p, rows)
    col = api_oracles.CHECKED[family][0]
    bad = [dict(r) for r in rows]
    v = bad[0][col]
    bad[0][col] = (v + 1) if isinstance(v, (int, float)) else f"{v}x"
    assert not o.matches(family, p, bad)
    assert not o.matches(family, p, rows + rows[:1])
