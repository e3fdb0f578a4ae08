"""mbox source/sink — the classic Unix mailbox framing every email
corpus (Enron, public list archives) ships in.

Write is one ``part-{pid:05d}.mbox`` per partition through
``tables.write_shards``, each message streamed into the file as it is
framed: framing is the reversible mboxrd discipline in
operators/emailtext.py (``From `` separators, ``>From`` quoting, fixed
two-byte terminator), so arbitrary message bytes round-trip exactly.
Read is ``binaryFile`` + ``split_mbox`` inside one ``tables.map_rows``
stage — one task per mailbox file, no shuffle; at 100 TB the scan
parallelism is the file count, the layout real archives already have
(one mbox per mailing-list-month).

Only the small per-file manifest (file, n_records, n_bytes) reaches the
driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pasardassist_spark.operators.emailtext import encode_mbox, split_mbox
from pasardassist_spark.tables import map_rows, read_shards, write_shards

__all__ = ["read_mbox", "write_mbox"]


def write_mbox(df: DataFrame, path: str, msg_col: str = "msg") -> DataFrame:
    """Write one mboxrd ``part-{pid:05d}.mbox`` per partition, streaming
    each message into the file; returns the ``tables.write_shards``
    manifest (file, n_records, n_bytes)."""
    os.makedirs(path, exist_ok=True)

    def _write(fh, batches) -> int:
        n = 0
        for pdf in batches:
            for msg in pdf[msg_col]:
                fh.write(encode_mbox([bytes(msg)]))
                n += 1
        return n

    return write_shards(df.select(msg_col), path, "part-{:05d}.mbox", _write)


def read_mbox(spark: SparkSession, path: str) -> DataFrame:
    """One row per message: (mbox, msg_no, raw). msg_no is the 0-based
    position within its file. ``binaryFile`` hands each task its whole
    shard as one value: task memory is O(shard), and a shard of 2 GiB or
    more is refused."""
    files = read_shards(spark, path, "*.mbox").select("path", "content")

    def _parse(src_path, blob):
        base = os.path.basename(str(src_path))
        for i, msg in enumerate(split_mbox(bytes(blob))):
            yield base, i, msg

    return map_rows(files, _parse, "mbox string, msg_no int, raw binary")
