"""Avro Object Container File source/sink — the schema-carrying row
format of the Hadoop/Kafka interchange world. Stdlib only, from the
PUBLIC Apache Avro 1.11 specification ("Object Container Files" +
"Binary Encoding"):

- Container layout: magic ``Obj\\x01``, a file-metadata map carrying
  ``avro.schema`` (writer schema JSON) and ``avro.codec``, a random
  16-byte sync marker, then data blocks of [row count][byte size]
  [encoded rows][sync marker]. All counts/sizes are zigzag varints.
- Binary encoding: long/int = zigzag varint; float/double = 4/8-byte
  little-endian IEEE; string/bytes = length varint + bytes; boolean =
  one byte; arrays = repeated (count, items) blocks with a 0 terminator;
  nullable columns = union ``["null", T]`` encoded as a zigzag branch
  index. Logical types: timestamp-micros on long, date on int.
- Codecs: ``null`` and ``deflate`` (raw RFC 1951 via zlib wbits=-15 —
  the spec's required pair; snappy needs an external lib and is NOT
  claimed).

Scale shape is the shard layout of ``tables.write_shards``: write = one
``.avro`` shard per partition (task-local file, manifest rows back — no
driver funnel); read = binaryFile scan, one task per shard, decoded in a
``tables.map_rows`` stage. Avro files ARE splittable at block
boundaries in principle, but the shard-per-partition layout already
yields one task per shard, which is the right parallelism when the
writer controls shard sizing (the 100 TB answer is "write enough
shards", not "split giant files").

Reference semantics: the export/import boundary of the reference's
collection dumps (closest analogue `src/modules/app/app.service.ts`
export endpoints); the format itself is from the public Avro spec.
Completes the interchange quartet: JSONL, WARC, TFRecord, Avro.
"""

from __future__ import annotations

import json
import os
import struct
import zlib
from typing import Iterator

import pandas as pd

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
    StructField,
    StructType,
    TimestampType,
)

from pasardassist_spark.tables import map_rows, read_shards, write_shards

MAGIC = b"Obj\x01"
# Deterministic marker (fine per spec — uniqueness only matters across
# files that get byte-concatenated, which the shard layout never does;
# determinism keeps the roundtrip tests byte-reproducible).
SYNC = bytes(range(0xA0, 0xB0))
BLOCK_ROWS = 4096

# ------------------------------------------------------------ primitives


def zigzag_encode(n: int) -> bytes:
    """Avro long: zigzag then base-128 varint, little-endian groups."""
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 70:
            raise ValueError("avro: varint too long (corrupt stream)")
    return (u >> 1) ^ -(u & 1), pos


# -------------------------------------------------- schema <-> Spark


def _avro_type(dt) -> object:
    if isinstance(dt, LongType):
        return "long"
    if isinstance(dt, IntegerType):
        return "int"
    if isinstance(dt, DoubleType):
        return "double"
    if isinstance(dt, FloatType):
        return "float"
    if isinstance(dt, StringType):
        return "string"
    if isinstance(dt, BinaryType):
        return "bytes"
    if isinstance(dt, BooleanType):
        return "boolean"
    if isinstance(dt, TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dt, DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, ArrayType):
        return {"type": "array", "items": _avro_type(dt.elementType)}
    raise TypeError(f"avro: unsupported Spark type {dt}")


def schema_json(schema: StructType, name: str = "row") -> str:
    """Writer schema: a record whose every field is union [null, T] —
    the uniform nullable treatment matching Spark's nullable columns."""
    return json.dumps(
        {
            "type": "record",
            "name": name,
            "fields": [
                {"name": f.name, "type": ["null", _avro_type(f.dataType)]}
                for f in schema.fields
            ],
        }
    )


# ------------------------------------------------------------- encoding


def _encode_value(dt, v, out: bytearray) -> None:
    if isinstance(dt, (LongType, IntegerType)):
        out += zigzag_encode(int(v))
    elif isinstance(dt, DoubleType):
        out += struct.pack("<d", float(v))
    elif isinstance(dt, FloatType):
        out += struct.pack("<f", float(v))
    elif isinstance(dt, StringType):
        b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
        out += zigzag_encode(len(b))
        out += b
    elif isinstance(dt, BinaryType):
        b = bytes(v)
        out += zigzag_encode(len(b))
        out += b
    elif isinstance(dt, BooleanType):
        out.append(1 if v else 0)
    elif isinstance(dt, TimestampType):
        ts = pd.Timestamp(v)
        out += zigzag_encode(ts.value // 1000)  # ns -> micros
    elif isinstance(dt, DateType):
        out += zigzag_encode(pd.Timestamp(v).toordinal() - 719163)  # epoch days
    elif isinstance(dt, ArrayType):
        items = list(v)
        if items:
            out += zigzag_encode(len(items))
            for item in items:
                _encode_value(dt.elementType, item, out)
        out += zigzag_encode(0)
    else:  # pragma: no cover - guarded by schema_json
        raise TypeError(f"avro: unsupported Spark type {dt}")


def encode_row(fields, row, out: bytearray) -> None:
    for name, dt in fields:
        v = getattr(row, name)
        # ndarray/list values (array columns) are never scalar-NaN; a
        # pd.isna on them returns an elementwise array, so gate on type.
        isnull = v is None or (
            not isinstance(v, (list, tuple, bytes, str))
            and not hasattr(v, "__len__")
            and pd.isna(v)
        )
        if isnull:
            out += zigzag_encode(0)  # union branch: null
        else:
            out += zigzag_encode(1)  # union branch: value
            _encode_value(dt, v, out)


# ------------------------------------------------------------- decoding


def _decode_value(dt, buf: bytes, pos: int) -> tuple[object, int]:
    if isinstance(dt, (LongType, IntegerType)):
        return zigzag_decode(buf, pos)
    if isinstance(dt, DoubleType):
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if isinstance(dt, FloatType):
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if isinstance(dt, (StringType, BinaryType)):
        n, pos = zigzag_decode(buf, pos)
        if n < 0 or pos + n > len(buf):
            raise ValueError("avro: bytes length outside block (corrupt)")
        raw = buf[pos : pos + n]
        return (raw.decode("utf-8") if isinstance(dt, StringType) else raw), pos + n
    if isinstance(dt, BooleanType):
        return buf[pos] != 0, pos + 1
    if isinstance(dt, TimestampType):
        micros, pos = zigzag_decode(buf, pos)
        return pd.Timestamp(micros * 1000), pos
    if isinstance(dt, DateType):
        days, pos = zigzag_decode(buf, pos)
        return pd.Timestamp.fromordinal(days + 719163).date(), pos
    if isinstance(dt, ArrayType):
        items = []
        while True:
            n, pos = zigzag_decode(buf, pos)
            if n == 0:
                return items, pos
            if n < 0:  # spec: negative count prefixes a block byte size
                n = -n
                _, pos = zigzag_decode(buf, pos)
            for _ in range(n):
                v, pos = _decode_value(dt.elementType, buf, pos)
                items.append(v)
    raise TypeError(f"avro: unsupported Spark type {dt}")


def decode_row(fields, buf: bytes, pos: int) -> tuple[dict, int]:
    row = {}
    for name, dt in fields:
        branch, pos = zigzag_decode(buf, pos)
        if branch == 0:
            row[name] = None
        elif branch == 1:
            row[name], pos = _decode_value(dt, buf, pos)
        else:
            raise ValueError(f"avro: union branch {branch} (corrupt)")
    return row, pos


# ------------------------------------------------------------- container


def write_container(
    fh, fields, rows_iter, codec: str = "deflate"
) -> tuple[int, int]:
    """Stream rows into an open binary file as one Avro container.
    Returns (n_records, n_bytes_written)."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro: codec {codec!r} not supported (null|deflate)")
    schema = schema_json(
        StructType([StructField(n, dt, True) for n, dt in fields])
    )
    header = bytearray(MAGIC)
    meta = {
        "avro.schema": schema.encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    header += zigzag_encode(len(meta))
    for k, v in sorted(meta.items()):
        kb = k.encode("utf-8")
        header += zigzag_encode(len(kb))
        header += kb
        header += zigzag_encode(len(v))
        header += v
    header += zigzag_encode(0)
    header += SYNC
    fh.write(bytes(header))
    n_bytes = len(header)
    n_rec = 0

    block = bytearray()
    block_n = 0

    def _flush():
        nonlocal block, block_n, n_bytes
        if not block_n:
            return
        data = bytes(block)
        if codec == "deflate":
            c = zlib.compressobj(wbits=-15)
            data = c.compress(data) + c.flush()
        out = (
            zigzag_encode(block_n)
            + zigzag_encode(len(data))
            + data
            + SYNC
        )
        fh.write(out)
        n_bytes += len(out)
        block = bytearray()
        block_n = 0

    for row in rows_iter:
        encode_row(fields, row, block)
        block_n += 1
        n_rec += 1
        if block_n >= BLOCK_ROWS:
            _flush()
    _flush()
    return n_rec, n_bytes


def read_container(blob: bytes, fields) -> Iterator[dict]:
    """Decode one container blob into row dicts, verifying magic, codec,
    writer-schema field names, and every block's sync marker."""
    if blob[:4] != MAGIC:
        raise ValueError("avro: bad magic")
    pos = 4
    meta = {}
    while True:
        n, pos = zigzag_decode(blob, pos)
        if n == 0:
            break
        if n < 0:  # negative count prefixes a byte size
            n = -n
            _, pos = zigzag_decode(blob, pos)
        for _ in range(n):
            klen, pos = zigzag_decode(blob, pos)
            k = blob[pos : pos + klen].decode("utf-8")
            pos += klen
            vlen, pos = zigzag_decode(blob, pos)
            meta[k] = blob[pos : pos + vlen]
            pos += vlen
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro: codec {codec!r} not supported")
    writer = json.loads(meta["avro.schema"].decode("utf-8"))
    writer_sig = [(f["name"], f["type"]) for f in writer["fields"]]
    reader_sig = [(n, ["null", _avro_type(dt)]) for n, dt in fields]
    if writer_sig != reader_sig:
        # Loud structural failure beats a silent byte-stream desync: a
        # type mismatch would otherwise misparse every later field.
        raise ValueError(
            f"avro: writer fields {writer_sig} != reader fields {reader_sig}"
        )
    sync = blob[pos : pos + 16]
    pos += 16
    while pos < len(blob):
        count, pos = zigzag_decode(blob, pos)
        size, pos = zigzag_decode(blob, pos)
        data = blob[pos : pos + size]
        pos += size
        if blob[pos : pos + 16] != sync:
            raise ValueError("avro: sync marker mismatch (corrupt block)")
        pos += 16
        if codec == "deflate":
            data = zlib.decompress(data, wbits=-15)
        dpos = 0
        for _ in range(count):
            row, dpos = decode_row(fields, data, dpos)
            yield row
        if dpos != len(data):
            raise ValueError("avro: trailing bytes in block (corrupt)")


# ------------------------------------------------------------ DataFrame IO


def write_avro(df: DataFrame, path: str, codec: str = "deflate") -> DataFrame:
    """Distributed Avro export: one ``part-{pid:05d}.avro`` container
    per partition through ``tables.write_shards``, which returns the
    manifest. Blocks stream straight to the shard file, so task memory
    stays O(BLOCK_ROWS), not O(partition)."""
    os.makedirs(path, exist_ok=True)
    fields = [(f.name, f.dataType) for f in df.schema.fields]

    def _write(fh, batches) -> int:
        rows = (row for batch in batches for row in batch.itertuples(index=False))
        return write_container(fh, fields, rows, codec=codec)[0]

    return write_shards(df, path, "part-{:05d}.avro", _write)


def read_avro(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Distributed Avro read under an EXPLICIT schema (textio's
    never-infer contract); writer schema field names are validated
    against it per shard. ``binaryFile`` hands each task its whole shard
    as one value: task memory is O(shard), and a shard of 2 GiB or more
    is refused."""
    blobs = read_shards(spark, path, "*.avro").select("content")
    fields = [(f.name, f.dataType) for f in schema.fields]

    def _parse(content):
        for row in read_container(bytes(content), fields):
            yield tuple(row.values())  # decode_row fills in field order

    return map_rows(blobs, _parse, schema)
