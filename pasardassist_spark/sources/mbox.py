"""mbox source/sink — the classic Unix mailbox framing every email
corpus (Enron, public list archives) ships in.

Write is one ``part-{pid:05d}.mbox`` per partition via the TaskContext
id (sources/webdataset.py precedent): framing is the reversible mboxrd
discipline in operators/emailtext.py (``From `` separators, ``>From``
quoting, fixed two-byte terminator), so arbitrary message bytes
round-trip exactly.  Read is ``binaryFile`` + ``split_mbox`` inside one
``tables.map_rows`` stage — one task per mailbox file, no shuffle;
at 100 TB the scan parallelism is the file count, the layout real
archives already have (one mbox per mailing-list-month).

Only the small per-file manifest reaches the driver.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from pasardassist_spark.operators.emailtext import encode_mbox, split_mbox
from pasardassist_spark.tables import map_rows

__all__ = ["read_mbox", "write_mbox"]


def write_mbox(df: DataFrame, path: str, msg_col: str = "msg") -> DataFrame:
    """Write one mboxrd file per partition; returns the manifest
    DataFrame (mbox, n_messages, n_bytes)."""
    os.makedirs(path, exist_ok=True)

    def _write(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fname = os.path.join(path, f"part-{pid:05d}.mbox")
        msgs: list[bytes] = []
        for pdf in it:
            msgs.extend(bytes(m) for m in pdf[msg_col])
        data = encode_mbox(msgs)
        if msgs:
            with open(fname, "wb") as f:
                f.write(data)
        yield pd.DataFrame(
            {
                "mbox": [os.path.basename(fname) if msgs else ""],
                "n_messages": [len(msgs)],
                "n_bytes": [len(data) if msgs else 0],
            }
        )

    return (
        df.select(msg_col)
        .mapInPandas(_write, "mbox string, n_messages long, n_bytes long")
        .filter("n_messages > 0")
    )


def read_mbox(spark: SparkSession, path: str) -> DataFrame:
    """One row per message: (mbox, msg_no, raw).  msg_no is the
    0-based position within its file."""
    files = spark.read.format("binaryFile").load(
        os.path.join(path, "*.mbox")
    ).select("path", "content")

    def _parse(src_path, blob):
        base = os.path.basename(str(src_path))
        for i, msg in enumerate(split_mbox(bytes(blob))):
            yield base, i, msg

    return map_rows(files, _parse, "mbox string, msg_no int, raw binary")
