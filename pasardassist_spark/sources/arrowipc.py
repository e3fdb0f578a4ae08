"""Arrow IPC (Feather v2) file source/sink — the interchange format of
the Arrow ecosystem and the on-disk layout HuggingFace ``datasets``
ships training corpora in. Built on pyarrow's PUBLIC IPC API
(``pa.ipc.new_file`` / ``open_file``, the Arrow columnar specification's
File format: framed record batches + footer with schema and block
offsets).

Scale shape is the shard layout of ``tables.write_shards``: write = one
``.arrow`` shard per partition (task-local file, manifest rows back — no
driver funnel); read = binaryFile scan, one task per shard, the footer's
block index giving O(1) access to each record batch. The read yields
whole decoded frames, so it stays a vectorized ``mapInPandas`` stage. The
100 TB answer is shard sizing at write time, not splitting giant files.

Unlike the hand-rolled Avro/TFRecord codecs this connector deliberately
USES pyarrow rather than re-implementing the wire format: Arrow IPC is
the same memory layout the engine's Pandas-UDF path already speaks —
re-deriving flatbuffers framing by hand would duplicate a library this
container already bakes in, for no portability gain.

Reference semantics: the export/import boundary of the reference's
collection dumps (closest analogue src/modules/app/app.service.ts
export endpoints); the format itself is the public Arrow spec.
Extends the interchange family: JSONL, WARC, TFRecord, Avro, Arrow.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructType,
)
from pyspark.sql.types import TimestampType

from pasardassist_spark.tables import read_shards, write_shards


def _arrow_type(dt) -> pa.DataType:
    if isinstance(dt, LongType):
        return pa.int64()
    if isinstance(dt, IntegerType):
        return pa.int32()
    if isinstance(dt, DoubleType):
        return pa.float64()
    if isinstance(dt, FloatType):
        return pa.float32()
    if isinstance(dt, StringType):
        return pa.string()
    if isinstance(dt, BooleanType):
        return pa.bool_()
    if isinstance(dt, BinaryType):
        return pa.binary()
    if isinstance(dt, TimestampType):
        # microseconds, naive: the engine runs UTC session time and the
        # pandas batches arrive tz-naive — framing them naive keeps the
        # roundtrip bit-stable instead of smuggling a tz annotation in
        return pa.timestamp("us")
    if isinstance(dt, DateType):
        return pa.date32()
    if isinstance(dt, ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    raise ValueError(f"arrowipc: unsupported Spark type {dt!r}")


def _arrow_schema(schema: StructType) -> pa.Schema:
    return pa.schema(
        [pa.field(f.name, _arrow_type(f.dataType)) for f in schema.fields]
    )


def write_arrow_ipc(df: DataFrame, path: str) -> DataFrame:
    """Distributed Arrow IPC export: one Feather-v2
    ``part-{pid:05d}.arrow`` shard per partition through
    ``tables.write_shards``, which returns the manifest; each pandas
    batch is written as one record batch, and empty partitions leave no
    file."""
    os.makedirs(path, exist_ok=True)
    pa_schema = _arrow_schema(df.schema)

    def _write(fh, batches) -> int:
        n = 0
        with pa.ipc.new_file(fh, pa_schema) as w:
            for batch in batches:
                if len(batch):
                    t = pa.Table.from_pandas(
                        batch, schema=pa_schema, preserve_index=False
                    )
                    w.write_table(t)
                    n += len(batch)
        return n

    return write_shards(df, path, "part-{:05d}.arrow", _write)


def read_arrow_ipc(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """Distributed Arrow IPC read under an EXPLICIT schema (textio's
    never-infer contract); the shard footer's schema field names are
    validated against it per file."""
    blobs = read_shards(spark, path, "*.arrow").select("content")
    names = [f.name for f in schema.fields]

    def _parse(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in it:
            for content in batch["content"]:
                rd = pa.ipc.open_file(pa.BufferReader(content))
                got = rd.schema.names
                if got != names:
                    raise ValueError(
                        f"arrowipc: shard schema {got} does not match "
                        f"the declared read schema {names}"
                    )
                pdf = rd.read_all().to_pandas()
                if len(pdf):
                    yield pdf

    return blobs.mapInPandas(_parse, schema)
