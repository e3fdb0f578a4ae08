"""Scratch-directory lifetime: ``caching.scratch_dir`` and ``release_all``.

Pins (a) the contract: each call gets a fresh directory under one
per-process root; it survives the actions of a frame that reads it; the
next ``release_all`` removes it and still returns the localCheckpoint
count; the package zip in the root outlives ``release_all``; and a
process leaves no root behind when it exits; (b) a source scan: no
module under ``pasardassist_spark/`` other than ``caching.py`` calls
``tempfile.mkdtemp``/``mkstemp``/``TemporaryDirectory`` or
``atexit.register``; (c) the stream replays stage an absolute link, so a
relative ``sf_dir`` gives the same rows, also after the process changes
its working directory; (d) end to end, the directories
three registered queries write are gone after ``release_all``.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import tempfile

import pytest
from oracle_compare import _canon

from pasardassist_spark import caching, tables
from pasardassist_spark.caching import release_all, scratch_dir, scratch_root
from pasardassist_spark.queries import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "pasardassist_spark")

_TEMP_CALLS = {"mkdtemp", "mkstemp", "TemporaryDirectory"}


def _own_temp_lifetimes(root: str) -> list[str]:
    """Code (not docstrings) outside ``caching.py`` that makes a temp
    directory or file, or registers an exit hook."""
    found = []
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == os.path.join(PKG, "caching.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            where = os.path.relpath(path, root)
            for node in ast.walk(tree):
                if isinstance(node, ast.ImportFrom) and node.module in ("tempfile", "atexit"):
                    for alias in node.names:
                        if alias.name in _TEMP_CALLS | {"register"}:
                            found.append(f"{where}:{node.lineno} {node.module}.{alias.name}")
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                owner = fn.value.id if isinstance(fn, ast.Attribute) and isinstance(fn.value, ast.Name) else None
                if name in _TEMP_CALLS:
                    found.append(f"{where}:{node.lineno} {name}")
                elif name == "register" and owner == "atexit":
                    found.append(f"{where}:{node.lineno} atexit.register")
    return found


def test_only_caching_owns_temp_lifetimes():
    offenders = _own_temp_lifetimes(PKG)
    assert not offenders, f"make query directories with caching.scratch_dir: {offenders}"


def test_scan_flags_an_own_temp_lifetime(tmp_path):
    (tmp_path / "q.py").write_text(
        '"""Mentions tempfile.mkdtemp and atexit.register in prose only."""\n'
        "import atexit, shutil, tempfile\n"
        "from tempfile import TemporaryDirectory\n"
        "def q():\n"
        "    d = tempfile.mkdtemp(prefix='x_')\n"
        "    atexit.register(shutil.rmtree, d)\n"
        "    fd, p = tempfile.mkstemp()\n"
        "    with TemporaryDirectory() as t:\n"
        "        return t\n"
    )
    assert _own_temp_lifetimes(str(tmp_path)) == [
        "q.py:3 tempfile.TemporaryDirectory",
        "q.py:5 mkdtemp",
        "q.py:6 atexit.register",
        "q.py:7 mkstemp",
        "q.py:8 TemporaryDirectory",
    ]


def test_each_call_gets_a_fresh_directory():
    a, b = scratch_dir("pasard_t_"), scratch_dir("pasard_t_")
    assert a != b
    for d in (a, b):
        assert os.path.isdir(d) and not os.listdir(d)
        assert os.path.dirname(d) == scratch_root()
        assert os.path.basename(d).startswith("pasard_t_")
    assert os.path.dirname(scratch_root()) == tempfile.gettempdir()


def test_directory_survives_actions_and_goes_at_release(spark):
    d = scratch_dir("pasard_t_")
    spark.range(10).write.parquet(os.path.join(d, "t"))
    df = spark.read.parquet(os.path.join(d, "t"))
    assert df.count() == 10
    assert sorted(r.id for r in df.collect()) == list(range(10))
    assert os.path.isdir(d)
    release_all(spark)
    assert not os.path.exists(d)
    assert os.path.isdir(scratch_root())


def test_release_all_still_returns_the_checkpoint_count(spark):
    release_all(spark)
    df = spark.range(100).localCheckpoint(eager=True)
    d = scratch_dir("pasard_t_")
    assert release_all(spark) == 1
    assert not os.path.exists(d)
    assert release_all(spark) == 0
    del df


def test_package_zip_outlives_release(spark):
    tables._ship_package(spark)
    zpath = os.path.join(
        scratch_root(), f"pasardassist_spark_{spark.sparkContext.applicationId}.zip"
    )
    release_all(spark)
    assert os.path.isfile(zpath)


def test_a_process_leaves_no_root_behind(tmp_path):
    code = (
        "import os\n"
        "from pasardassist_spark.caching import scratch_dir, scratch_root\n"
        "d = scratch_dir('pasard_t_')\n"
        "open(os.path.join(d, 'f'), 'w').write('x')\n"
        "open(os.path.join(scratch_root(), 'pkg.zip'), 'w').write('x')\n"
        "print(scratch_root())\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": REPO}
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True
    )
    root = out.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.listdir(tmp_path)


@pytest.mark.parametrize(
    "name", ["st1_stream_replay", "st3_stream_rollup", "st8_incremental_stats"]
)
def test_stream_replay_reads_a_relative_sf_dir(spark, sf_dir, name, monkeypatch):
    # Spark resolves a relative path against the JVM's working directory,
    # so this process works from the same one
    cwd = spark.sparkContext._jvm.System.getProperty("user.dir")
    monkeypatch.chdir(cwd)
    fn = all_queries()[name]
    absolute = _canon(fn(spark, os.path.abspath(sf_dir)).toPandas())
    relative = _canon(fn(spark, os.path.relpath(sf_dir, cwd)).toPandas())
    release_all(spark)
    assert absolute and relative == absolute


def test_relative_sf_dir_resolves_against_the_python_cwd(spark, sf_dir, monkeypatch):
    # chdir AFTER the session started: the JVM keeps its start-up
    # directory, so a relative sf_dir only works when every reader
    # (tables.load and the stream's staged link) resolves it here
    parent = os.path.dirname(os.path.abspath(sf_dir))
    assert spark.sparkContext._jvm.System.getProperty("user.dir") != parent
    fn = all_queries()["st8_incremental_stats"]
    absolute = _canon(fn(spark, os.path.abspath(sf_dir)).toPandas())
    monkeypatch.chdir(parent)
    relative = _canon(fn(spark, os.path.basename(os.path.abspath(sf_dir))).toPandas())
    release_all(spark)
    assert absolute and relative == absolute


def test_queries_leave_no_directory_after_release(spark, sf_dir):
    queries = {
        "src_csv_roundtrip": "pasard_csv_",
        "st1_stream_replay": "pasard_replay_",
        "drift_psi_readout": "drift_psi_state_",
    }
    def theirs(where: str) -> set[str]:
        return {d for d in os.listdir(where) if d.startswith(tuple(queries.values()))}

    qs = all_queries()
    release_all(spark)
    tmp_before = theirs(tempfile.gettempdir())
    for name, prefix in queries.items():
        assert qs[name](spark, sf_dir).collect(), name
        made = [d for d in theirs(scratch_root()) if d.startswith(prefix)]
        assert len(made) == 1, f"{name} wrote {made}"
        release_all(spark)
    assert not theirs(scratch_root())
    assert theirs(tempfile.gettempdir()) == tmp_before
    assert not caching._scratch_dirs
