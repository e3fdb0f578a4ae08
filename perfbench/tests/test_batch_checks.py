"""The output checks of ``batch_analytics`` count a wrong result as a
failure: a registry result that differs from its DuckDB oracle, ANN pairs
below the recall floor, a streamed state that is not the batch
latest-per-key, and an entry that raised. No Spark session is needed: the
checks run on the generated inputs and hand-made results."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import batch_analytics as B


@pytest.fixture(scope="module")
def workload(tmp_path_factory):
    w = B.BatchAnalytics(3, str(tmp_path_factory.mktemp("run")))
    w.generate()
    return w


def _failures(w, rec):
    failed, notes = w._check([rec])
    assert failed == len(notes["failures"])
    return failed


def _oracle_result(w, name):
    from pasardassist_spark.queries import all_oracles

    _, run_oracle = B._oracle_compare()
    return run_oracle(all_oracles()[name], w.sf_dir)


@pytest.mark.parametrize("name", B.QUERIES)
def test_registry_result_must_match_its_oracle(workload, name):
    right = _oracle_result(workload, name)
    assert len(right) > 0
    assert _failures(workload, {"entry": name, "result": right}) == 0
    wrong = right.copy()
    col = next(c for c in wrong.columns if pd.api.types.is_numeric_dtype(wrong[c]))
    wrong.loc[wrong.index[0], col] = wrong[col].iloc[0] + 1
    assert _failures(workload, {"entry": name, "result": wrong}) == 1
    assert _failures(workload, {"entry": name, "result": right.iloc[1:]}) == 1


def test_ann_recall_below_the_floor_fails(workload):
    truth = B.exact_topk(os.path.join(workload.sf_dir, "embeddings.parquet"))
    assert _failures(workload, {"entry": B.ANN, "ann": truth}) == 0
    # replace a tenth of the true neighbours with ids that do not exist
    keep = sorted(truth)[len(truth) // 10:]
    low = set(keep) | {(q, -1 - i) for i, (q, _) in enumerate(sorted(truth)[:len(truth) // 10])}
    assert len(keep) / len(truth) < B.ANN_RECALL_FLOOR
    assert _failures(workload, {"entry": B.ANN, "ann": low}) == 1


def _state_dir(w, root, drop_key=False):
    from pasardassist_spark.streaming.generations import commit

    events = pd.concat([pq.read_table(p).to_pandas() for p in w.event_paths])
    latest = events.sort_values(["user_id", "ts", "event_id"]).groupby("user_id").tail(1)
    if drop_key:
        latest = latest.iloc[1:]
    gen_dir = os.path.join(root, "v000001")
    os.makedirs(gen_dir)
    pq.write_table(pa.Table.from_pandas(latest, preserve_index=False),
                   os.path.join(gen_dir, "part-0.parquet"))
    commit(gen_dir)
    return root


def test_streamed_state_must_equal_batch_latest_per_key(workload, tmp_path):
    good = _state_dir(workload, str(tmp_path / "good"))
    assert _failures(workload, {"entry": B.INGEST, "state_dir": good}) == 0
    missing = _state_dir(workload, str(tmp_path / "missing"), drop_key=True)
    assert _failures(workload, {"entry": B.INGEST, "state_dir": missing}) == 1
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    assert _failures(workload, {"entry": B.INGEST, "state_dir": empty}) == 1


def test_an_entry_that_raised_fails(workload):
    assert _failures(workload, {"entry": B.ANN, "error": "RuntimeError()"}) == 1
