"""Output must not depend on the core count.

Runs the same registered queries in two fresh processes, one on one core
(``SPARK_GRAFT_CPUS=1``: one shuffle partition, no fan-out of the payload
tables) and one on four, and compares canonical row hashes
(``oracle_compare._canon``). The list holds ``dedup_cdc_chunks`` (a
rows-only query whose Python stage runs through ``tables.map_rows``), a
sample of the other rows-only queries, and a sample of the oracle-backed
queries built on ``map_rows``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = (
    "dedup_cdc_chunks",
    "bpe_train_merge_table",
    "unigram_encode_corpus",
    "cm_sketch_freq",
    "sim_lsh_ann",
    "doc_email_extract",
    "pipeline_any_doc_extract",
    "mm_mp4_meta",
    "mm_subtitle_cues",
    "text_fix_mojibake",
)

_RUN = """
import hashlib, json, sys
sys.path[:0] = [sys.argv[1], sys.argv[1] + "/tests"]
from oracle_compare import _canon
from pasardassist_spark import get_spark
from pasardassist_spark.queries import all_queries

spark = get_spark("core-count-invariance")
reg = all_queries()
out = {}
for name in json.loads(sys.argv[2]):
    rows = _canon(reg[name](spark, sys.argv[3]).toPandas())
    out[name] = [len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()]
print("HASHES " + json.dumps(out))
"""


def _hashes(cpus: int, sf_dir: str) -> subprocess.Popen:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_DRIVER_MEM="2g")
    return subprocess.Popen(
        [sys.executable, "-c", _RUN, REPO, json.dumps(QUERIES), sf_dir],
        env=env,
        cwd=REPO,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )


def _result(proc: subprocess.Popen) -> dict:
    out, _ = proc.communicate(timeout=300)
    assert proc.returncode == 0, f"query process failed ({proc.returncode})"
    line = next(x for x in out.splitlines() if x.startswith("HASHES "))
    return json.loads(line[len("HASHES "):])


def test_rows_do_not_depend_on_core_count(sf_dir):
    one, four = _hashes(1, sf_dir), _hashes(4, sf_dir)
    h1, h4 = _result(one), _result(four)
    assert set(h1) == set(QUERIES)
    assert all(n > 0 for n, _ in h1.values()), h1
    diff = {q: (h1[q], h4[q]) for q in QUERIES if h1[q] != h4[q]}
    assert not diff, f"rows differ between local[1] and local[4]: {diff}"
