"""Queries that register catalog names for their own plumbing drop them
before they return: the memory-sink views of ``st3_stream_rollup`` and
``streaming_watermark_readout``, and the temp view and temporary UDTF of
``udtf_sentence_split``. The returned frames must still read."""

from __future__ import annotations

from pasardassist_spark import caching
from pasardassist_spark.queries import all_queries

NAMES = ("st3_stream_rollup", "streaming_watermark_readout", "udtf_sentence_split")
PREFIXES = ("st3_rollup_", "wm_readout_", "docs_", "sentence_split_")


def _own_names(spark):
    tables = [t.name for t in spark.catalog.listTables()]
    functions = [f.name for f in spark.catalog.listFunctions() if f.isTemporary]
    return [n for n in tables + functions if n.startswith(PREFIXES)]


def test_queries_leave_no_catalog_names(spark, sf_dir):
    queries = all_queries()
    before = _own_names(spark)
    try:
        for name in NAMES:
            rows = queries[name](spark, sf_dir).collect()
            assert rows, name
        assert _own_names(spark) == before
    finally:
        caching.release_all(spark)
