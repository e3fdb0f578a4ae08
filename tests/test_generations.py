"""The committed-directory protocol has one home: streaming/generations.py.

Pins (a) that no other streaming module stages, commits, renames or checks
a commit marker itself, (b) that no other package module starts a
``foreachBatch`` stream (``start_epochs`` is the one starter), and (c)
that the one staging rule removes the staging directory a dead writer left
behind — in the bucketed state store and in a per-epoch log alike — and
never a live writer's.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "pasardassist_spark")
STREAMING = os.path.join(PACKAGE, "streaming")

_CALLS = {"commit", "publish_staged"}
_OS_CALLS = {"rename", "getpid"}
_IMPORTS = _CALLS | _OS_CALLS | {"COMMIT_MARKER", "_publish_epoch"}


def _protocol_uses(root: str) -> list[str]:
    """Every protocol step taken outside generations.py under ``root``:
    a call to ``commit``/``publish_staged``/``os.rename``/``os.getpid``, a
    use of ``COMMIT_MARKER``, or an import of any of these or of
    ``_publish_epoch``."""
    found = []
    for f in sorted(os.listdir(root)):
        if not f.endswith(".py") or f == "generations.py":
            continue
        path = os.path.join(root, f)
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            hit = None
            if isinstance(node, ast.Call):
                fn = node.func
                if isinstance(fn, ast.Name) and fn.id in _CALLS:
                    hit = fn.id
                elif isinstance(fn, ast.Attribute) and (
                    fn.attr in _CALLS
                    or (fn.attr in _OS_CALLS and isinstance(fn.value, ast.Name) and fn.value.id == "os")
                ):
                    hit = fn.attr
            elif isinstance(node, ast.Name) and node.id == "COMMIT_MARKER":
                hit = node.id
            elif isinstance(node, ast.Attribute) and node.attr == "COMMIT_MARKER":
                hit = node.attr
            elif isinstance(node, ast.ImportFrom):
                names = sorted(a.name for a in node.names if a.name in _IMPORTS)
                hit = ",".join(names) or None
            if hit:
                found.append((f, node.lineno, hit))
    return [f"{f}:{line} {hit}" for f, line, hit in sorted(found)]


def test_only_generations_writes_committed_directories():
    offenders = _protocol_uses(STREAMING)
    assert not offenders, f"protocol steps outside generations.py: {offenders}"


def test_scan_flags_every_protocol_step(tmp_path):
    (tmp_path / "m.py").write_text(
        "import os\n"
        "from pasardassist_spark.streaming.dynamic import _publish_epoch\n"
        "from pasardassist_spark.streaming.generations import commit as _c\n"
        "def publish(df, out):\n"
        "    staged = os.path.join(out, f'.stage-{os.getpid()}')\n"
        "    _c(staged)\n"
        "    commit(staged)\n"
        "    os.rename(staged, out)\n"
        "    g.publish_staged(staged, out)\n"
        "    return os.path.exists(os.path.join(out, g.COMMIT_MARKER))\n"
    )
    (tmp_path / "generations.py").write_text("import os\nos.rename('a', 'b')\n")
    assert _protocol_uses(str(tmp_path)) == [
        "m.py:2 _publish_epoch",
        "m.py:3 commit",
        "m.py:5 getpid",
        "m.py:7 commit",
        "m.py:8 rename",
        "m.py:9 publish_staged",
        "m.py:10 COMMIT_MARKER",
    ]


def _foreach_batch_uses(root: str) -> list[str]:
    """Every ``foreachBatch`` attribute under ``root`` outside
    ``streaming/generations.py``, as ``relpath:line``."""
    starter = os.path.join("streaming", "generations.py")
    found = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, root)
            if not f.endswith(".py") or rel == starter:
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            found += [
                f"{rel}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Attribute) and node.attr == "foreachBatch"
            ]
    return sorted(found)


def test_only_start_epochs_starts_a_stream():
    offenders = _foreach_batch_uses(PACKAGE)
    assert not offenders, f"foreachBatch outside generations.start_epochs: {offenders}"


def test_scan_flags_every_foreach_batch(tmp_path):
    (tmp_path / "streaming").mkdir()
    start = (
        "def start(stream, apply):\n"
        "    return stream.writeStream.foreachBatch(apply).start()\n"
    )
    (tmp_path / "streaming" / "gate.py").write_text(start)
    (tmp_path / "streaming" / "generations.py").write_text(start)
    (tmp_path / "q.py").write_text("fb = writer.foreachBatch\n")
    assert _foreach_batch_uses(str(tmp_path)) == ["q.py:1", "streaming/gate.py:2"]


def _dead_pid() -> int:
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    return p.pid


@pytest.fixture
def live_pid():
    p = subprocess.Popen(["sleep", "300"])
    yield p.pid
    p.kill()
    p.wait()


def _leftover(parent: str, name: str) -> str:
    d = os.path.join(parent, name)
    os.makedirs(os.path.join(d, "bucket=3"))
    open(os.path.join(d, "bucket=3", "part-0.parquet"), "w").close()
    return d


def test_state_store_clears_a_dead_writers_staging(spark, tmp_path, live_pid):
    from pasardassist_spark.streaming.generations import committed_versions
    from pasardassist_spark.streaming.ingest import merge_into_bucketed_state, read_state

    state = str(tmp_path / "state")
    dead = _leftover(state, f".compact-{_dead_pid()}")
    live = _leftover(state, f".compact-{live_pid}")

    def fold(df):
        return df.groupBy("k").agg(F.sum("n").cast("long").alias("n"))

    merge_into_bucketed_state(
        spark.createDataFrame([(1, 5), (2, 3)], "k long, n long"), state, ("k",), fold
    )
    assert not os.path.exists(dead)
    assert os.path.isdir(live)  # a running compactor's staging stays
    assert committed_versions(state) == ["v000001"]
    assert sorted(map(tuple, read_state(spark, state).collect())) == [(1, 5), (2, 3)]


def test_epoch_log_clears_a_dead_writers_staging(spark, tmp_path, live_pid):
    from pasardassist_spark.streaming import (
        admitted_events,
        process_collection_batch,
        register_collection,
    )

    control, out, pending = (str(tmp_path / d) for d in ("control", "out", "pending"))
    register_collection(spark, control, "sale")
    dead = _leftover(out, f".stage-7-{_dead_pid()}")
    live = _leftover(out, f".compact-{live_pid}")
    batch = spark.createDataFrame(
        [(1, "sale", 1.0), (2, "bid", 2.0)],
        "event_id long, event_type string, value double",
    )
    process_collection_batch(batch, 7, control, out, pending)
    assert not os.path.exists(dead)
    assert os.path.isdir(live)
    assert os.path.isdir(os.path.join(out, "e000000007"))
    assert [r.event_id for r in admitted_events(spark, out).collect()] == [1]
