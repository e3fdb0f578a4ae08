"""The command end to end: a planted wrong expectation turns it red, it
leaves the tree as it found it, and it refuses to run without the
package. Each Spark case takes about a minute."""

import json
import os
import subprocess
import sys

from perfbench import run

PLANT = """
import sys
sys.path.insert(0, {root!r})
from perfbench import api_oracles
right = api_oracles.sql
def planted(family, p):
    q = right(family, p)
    return q.replace("AS items", "+ 1 AS items") if family == "market_totals" else q
api_oracles.sql = planted
from perfbench import run
sys.exit(run.main(["--workload", "api_serving", "--seed", "5", "--seconds", "1"]))
"""


def _tree(root: str) -> set[str]:
    out = set()
    for dirpath, dirnames, files in os.walk(root):
        # the test runner's own byte-code and cache directories are not the run's
        dirnames[:] = [d for d in dirnames if d not in (".git", "__pycache__", ".pytest_cache")]
        for f in files:
            out.add(os.path.relpath(os.path.join(dirpath, f), root))
    return out


def test_planted_wrong_expectation_turns_the_command_red_and_tree_is_unchanged():
    before = _tree(run.ROOT)
    p = subprocess.run([sys.executable, "-c", PLANT.format(root=run.ROOT)],
                       capture_output=True, text=True, timeout=300,
                       env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"})
    assert p.returncode == 1, p.stderr[-2000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    assert line["correct"] is False and line["failed"] >= 1
    assert _tree(run.ROOT) == before


def test_refuses_to_run_without_the_package(tmp_path):
    import shutil

    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(run.ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "api_serving",
                        "--seed", "1", "--seconds", "1"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
