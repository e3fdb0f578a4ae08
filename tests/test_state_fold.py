"""The bucketed state store's one merge contract: a unary ``fold(df)``.

Pins (a) that no code outside ``streaming/ingest.py`` drops the store's
``bucket`` column (the layout stays inside the store), (b) that the eager
merge, the LSM append and ``read_lsm_state`` take the same fold object,
never hand it a ``bucket`` column, and land the same table, and (c) that
a compaction that dies between its commit marker and its rename leaves
no directory that reads as a committed generation.
"""

from __future__ import annotations

import ast
import inspect
import os

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INGEST = os.path.join(REPO, "pasardassist_spark", "streaming", "ingest.py")


def _bucket_drops(root: str) -> list[str]:
    """Every ``<expr>.drop("bucket")`` call under ``root``, except in the
    store module itself."""
    found = []
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == INGEST:
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "drop"
                    and any(
                        isinstance(a, ast.Constant) and a.value == "bucket"
                        for a in node.args
                    )
                ):
                    found.append(f"{os.path.relpath(path, root)}:{node.lineno}")
    return found


def test_bucket_column_stays_inside_the_store():
    offenders = _bucket_drops(os.path.join(REPO, "pasardassist_spark")) + _bucket_drops(
        os.path.join(REPO, "tests")
    )
    assert not offenders, f"fold without the bucket column: {offenders}"


def test_scan_flags_a_bucket_drop(tmp_path):
    (tmp_path / "m.py").write_text(
        "def combine(prev, delta):\n"
        "    return prev.drop('bucket').unionByName(delta)\n"
    )
    assert _bucket_drops(str(tmp_path)) == ["m.py:2"]


def test_latest_state_has_no_custom_order():
    from pasardassist_spark.streaming.ingest import maintain_latest_state

    assert "order" not in inspect.signature(maintain_latest_state).parameters


def test_merge_append_and_lsm_read_share_one_fold(spark, tmp_path):
    from pasardassist_spark.streaming.ingest import (
        append_into_bucketed_state,
        merge_into_bucketed_state,
        read_lsm_state,
        read_state,
    )

    seen = []

    def fold(df):
        seen.append(list(df.columns))
        return df.groupBy("k").agg(F.sum("n").cast("long").alias("n"))

    batches = [
        [(1, 5), (2, 3)],
        [(2, 2), (7, 1)],
        [(1, 1), (9, 4), (30, 2)],
    ]
    eager, lsm = str(tmp_path / "eager"), str(tmp_path / "lsm")
    for i, rows in enumerate(batches):
        b = spark.createDataFrame(rows, "k long, n long")
        merge_into_bucketed_state(b, eager, ("k",), fold, epoch_id=i)
        append_into_bucketed_state(b, lsm, ("k",), fold, epoch_id=i, compact_every=100)
    got_eager = sorted(map(tuple, read_state(spark, eager).select("k", "n").collect()))
    got_lsm = sorted(
        map(tuple, read_lsm_state(spark, lsm, fold).select("k", "n").collect())
    )
    assert got_eager == got_lsm == [(1, 6), (2, 5), (7, 1), (9, 4), (30, 2)]
    assert seen and all(cols == ["k", "n"] for cols in seen), seen


def test_compaction_crash_before_rename_leaves_no_generation(spark, tmp_path, monkeypatch):
    import pasardassist_spark.streaming.ingest as ing
    from pasardassist_spark.streaming.generations import commit, committed_versions

    def fold(df):
        return df.groupBy("k").agg(F.sum("n").cast("long").alias("n"))

    state = str(tmp_path / "state")
    b0 = spark.createDataFrame([(1, 5), (2, 3)], "k long, n long")
    ing.merge_into_bucketed_state(b0, state, ("k",), fold)

    class Crash(Exception):
        pass

    def commit_then_crash(gen_dir):
        commit(gen_dir)
        raise Crash

    monkeypatch.setattr("pasardassist_spark.streaming.generations.commit", commit_then_crash)
    with pytest.raises(Crash):
        ing.compact_state(spark, state)
    monkeypatch.undo()

    assert committed_versions(state) == ["v000001"]
    ing.merge_into_bucketed_state(
        spark.createDataFrame([(2, 2)], "k long, n long"), state, ("k",), fold
    )
    assert committed_versions(state)[-1] == "v000002"
    got = sorted(map(tuple, ing.read_state(spark, state).select("k", "n").collect()))
    assert got == [(1, 5), (2, 5)]
