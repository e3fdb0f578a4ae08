"""bench.py's record names the tree it measured: a record taken on a
working tree with uncommitted changes reads ``<sha>-dirty``, not the
bare id of the commit those changes sit on."""

from __future__ import annotations

import subprocess

import bench


def _git(repo, *args: str) -> str:
    return subprocess.run(
        ["git", "-C", str(repo), "-c", "user.name=t", "-c", "user.email=t@t", *args],
        capture_output=True, text=True, check=True,
    ).stdout.strip()


def test_round_marks_an_uncommitted_tree_dirty(tmp_path):
    _git(tmp_path, "init", "-q")
    (tmp_path / "f.txt").write_text("a\n")
    _git(tmp_path, "add", "f.txt")
    _git(tmp_path, "commit", "-q", "-m", "one")
    sha = _git(tmp_path, "rev-parse", "--short", "HEAD")
    assert bench.tree_round(str(tmp_path)) == sha

    (tmp_path / "f.txt").write_text("b\n")
    assert bench.tree_round(str(tmp_path)) == f"{sha}-dirty"

    _git(tmp_path, "commit", "-q", "-am", "two")
    assert bench.tree_round(str(tmp_path)) == _git(
        tmp_path, "rev-parse", "--short", "HEAD"
    )
