"""MessagePack stream source/sink — the compact self-describing binary
row format of the RPC/queue interchange world (public spec,
https://github.com/msgpack/msgpack/blob/master/spec.md). Stdlib only;
no external msgpack library is present in this container, so the codec
is implemented from the specification:

- each row is one MessagePack MAP of column name -> value (the binary
  analogue of a JSONL object — self-describing, streamable, appendable);
- a shard is the plain concatenation of row maps (the format's standard
  stream layout; no container framing exists in the spec);
- types written: nil (0xc0), booleans (0xc2/c3), integers in their
  SMALLEST representation (positive/negative fixint, uint8-64 0xcc-0xcf,
  int8-64 0xd0-0xd3), float64 (0xcb, big-endian IEEE), strings
  (fixstr / str8-32, UTF-8), binary (bin8-32); maps as fixmap / map16/32.
  The decoder accepts every integer/str/bin/map width, not just the ones
  this writer emits (foreign writers pick freely).

Scale shape is the shard layout of ``tables.write_shards``: write = one
``.msgpack`` shard per partition (task-local file, manifest rows back —
no driver funnel); read = binaryFile scan, one task per shard, decoded
in a ``tables.map_rows`` stage under an EXPLICIT schema (textio's
never-infer contract). MessagePack streams are not splittable (no
sync markers); the shard-per-partition layout already yields one task
per shard — the 100 TB answer is "write enough shards".

Reference semantics: export/import boundary of the reference's
collection dumps (`src/modules/app/app.service.ts` export endpoints);
the format itself is the public spec. Extends the interchange shelf:
JSONL, WARC, TFRecord, Avro, Arrow IPC, and now MessagePack.
"""

from __future__ import annotations

import os
import struct
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructType,
)

from pasardassist_spark.tables import map_rows, read_shards, write_shards

# ------------------------------------------------------------- encoder


def _enc_int(n: int) -> bytes:
    if 0 <= n <= 0x7F:
        return bytes([n])
    if -32 <= n < 0:
        return struct.pack("b", n)
    if 0 <= n <= 0xFF:
        return b"\xcc" + struct.pack(">B", n)
    if 0 <= n <= 0xFFFF:
        return b"\xcd" + struct.pack(">H", n)
    if 0 <= n <= 0xFFFFFFFF:
        return b"\xce" + struct.pack(">I", n)
    if 0 <= n <= 0xFFFFFFFFFFFFFFFF:
        return b"\xcf" + struct.pack(">Q", n)
    if -0x80 <= n < 0:
        return b"\xd0" + struct.pack(">b", n)
    if -0x8000 <= n < 0:
        return b"\xd1" + struct.pack(">h", n)
    if -0x80000000 <= n < 0:
        return b"\xd2" + struct.pack(">i", n)
    if -0x8000000000000000 <= n < 0:
        return b"\xd3" + struct.pack(">q", n)
    raise ValueError(f"msgpack: integer out of 64-bit range: {n}")


def _enc_str(s: str) -> bytes:
    b = s.encode("utf-8")
    n = len(b)
    if n <= 31:
        return bytes([0xA0 | n]) + b
    if n <= 0xFF:
        return b"\xd9" + struct.pack(">B", n) + b
    if n <= 0xFFFF:
        return b"\xda" + struct.pack(">H", n) + b
    return b"\xdb" + struct.pack(">I", n) + b


def _enc_bin(b: bytes) -> bytes:
    n = len(b)
    if n <= 0xFF:
        return b"\xc4" + struct.pack(">B", n) + b
    if n <= 0xFFFF:
        return b"\xc5" + struct.pack(">H", n) + b
    return b"\xc6" + struct.pack(">I", n) + b


def _enc_value(v, dt) -> bytes:
    if v is None or (isinstance(v, float) and v != v and not isinstance(dt, DoubleType)):
        return b"\xc0"
    if isinstance(dt, BooleanType):
        return b"\xc3" if v else b"\xc2"
    if isinstance(dt, (LongType, IntegerType)):
        return _enc_int(int(v))
    if isinstance(dt, DoubleType):
        return b"\xcb" + struct.pack(">d", float(v))
    if isinstance(dt, StringType):
        return _enc_str(str(v))
    if isinstance(dt, BinaryType):
        return _enc_bin(bytes(v))
    raise ValueError(
        f"msgpack writer: unsupported Spark type {dt.simpleString()} — "
        "supported: long/int/double/string/boolean/binary (nullable)"
    )


def _enc_map_header(n: int) -> bytes:
    if n <= 15:
        return bytes([0x80 | n])
    if n <= 0xFFFF:
        return b"\xde" + struct.pack(">H", n)
    return b"\xdf" + struct.pack(">I", n)


def encode_row(values, fields) -> bytes:
    out = bytearray(_enc_map_header(len(fields)))
    for (name_b, dt), v in zip(fields, values):
        out += name_b
        out += _enc_value(v, dt)
    return bytes(out)


# ------------------------------------------------------------- decoder


def _dec_value(buf: bytes, pos: int):
    """Decode ONE msgpack value at pos -> (python value, new pos).
    Accepts every spec width for the supported families; raises BY NAME
    on families outside the connector's type contract (ext, float32,
    arrays) — the dead-letter convention of the codec shelf."""
    t = buf[pos]
    pos += 1
    if t <= 0x7F:
        return t, pos
    if t >= 0xE0:
        return t - 0x100, pos
    if 0x80 <= t <= 0x8F:
        return _dec_map_body(buf, pos, t & 0x0F)
    if 0xA0 <= t <= 0xBF:
        n = t & 0x1F
        return buf[pos:pos + n].decode("utf-8"), pos + n
    if t == 0xC0:
        return None, pos
    if t == 0xC2:
        return False, pos
    if t == 0xC3:
        return True, pos
    if t in (0xC4, 0xC5, 0xC6):
        w = {0xC4: ">B", 0xC5: ">H", 0xC6: ">I"}[t]
        sz = struct.calcsize(w)
        (n,) = struct.unpack_from(w, buf, pos)
        pos += sz
        return bytes(buf[pos:pos + n]), pos + n
    if t == 0xCB:
        (v,) = struct.unpack_from(">d", buf, pos)
        return v, pos + 8
    if t in (0xCC, 0xCD, 0xCE, 0xCF):
        w = {0xCC: ">B", 0xCD: ">H", 0xCE: ">I", 0xCF: ">Q"}[t]
        sz = struct.calcsize(w)
        (v,) = struct.unpack_from(w, buf, pos)
        return v, pos + sz
    if t in (0xD0, 0xD1, 0xD2, 0xD3):
        w = {0xD0: ">b", 0xD1: ">h", 0xD2: ">i", 0xD3: ">q"}[t]
        sz = struct.calcsize(w)
        (v,) = struct.unpack_from(w, buf, pos)
        return v, pos + sz
    if t in (0xD9, 0xDA, 0xDB):
        w = {0xD9: ">B", 0xDA: ">H", 0xDB: ">I"}[t]
        sz = struct.calcsize(w)
        (n,) = struct.unpack_from(w, buf, pos)
        pos += sz
        return buf[pos:pos + n].decode("utf-8"), pos + n
    if t in (0xDE, 0xDF):
        w = {0xDE: ">H", 0xDF: ">I"}[t]
        sz = struct.calcsize(w)
        (n,) = struct.unpack_from(w, buf, pos)
        return _dec_map_body(buf, pos + sz, n)
    raise ValueError(
        f"msgpack reader: unsupported type byte 0x{t:02x} at offset "
        f"{pos - 1} (ext/float32/array families are outside the "
        "connector's row-map contract)"
    )


def _dec_map_body(buf: bytes, pos: int, n: int):
    m = {}
    for _ in range(n):
        k, pos = _dec_value(buf, pos)
        if not isinstance(k, str):
            raise ValueError(
                "msgpack reader: row-map key is not a string "
                f"({type(k).__name__}) — not a column map stream"
            )
        v, pos = _dec_value(buf, pos)
        m[k] = v
    return m, pos


def decode_stream(buf: bytes) -> Iterator[dict]:
    pos, n = 0, len(buf)
    while pos < n:
        row, pos = _dec_value(buf, pos)
        if not isinstance(row, dict):
            raise ValueError(
                "msgpack reader: top-level value is not a map — "
                "not a row stream"
            )
        yield row


# -------------------------------------------------------------- Spark API

_SUPPORTED = (LongType, IntegerType, DoubleType, StringType, BooleanType,
              BinaryType)


def _check_schema(schema: StructType, who: str) -> None:
    for f in schema.fields:
        if not isinstance(f.dataType, _SUPPORTED):
            raise ValueError(
                f"{who}: unsupported column type "
                f"{f.name}: {f.dataType.simpleString()} — supported: "
                "long/int/double/string/boolean/binary (nullable)"
            )


def write_msgpack(df: DataFrame, path: str) -> DataFrame:
    """Distributed MessagePack export: one row-map stream
    ``part-{pid:05d}.msgpack`` per partition through
    ``tables.write_shards``, which returns the manifest."""
    _check_schema(df.schema, "write_msgpack")
    os.makedirs(path, exist_ok=True)
    fields = [(_enc_str(f.name), f.dataType) for f in df.schema.fields]

    def _write(fh, batches) -> int:
        n = 0
        for batch in batches:
            # None-ify pandas NaN/NaT once per batch so the encoder
            # sees clean Python values
            batch = batch.astype(object).where(batch.notna(), None)
            for row in batch.itertuples(index=False):
                fh.write(encode_row(row, fields))
                n += 1
        return n

    return write_shards(df, path, "part-{:05d}.msgpack", _write)


def read_msgpack(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Distributed MessagePack read under an EXPLICIT schema (textio's
    never-infer contract): each shard is a concatenated row-map stream;
    missing keys surface as nulls, unknown keys raise by name (a schema
    drift should fail loudly, not silently drop a column).
    ``binaryFile`` hands each task its whole shard as one value: task
    memory is O(shard), and a shard of 2 GiB or more is refused."""
    _check_schema(schema, "read_msgpack")
    names = [f.name for f in schema.fields]
    known = set(names)
    blobs = read_shards(spark, path, "*.msgpack").select("content")

    def _parse(content):
        for m in decode_stream(bytes(content)):
            extra = set(m) - known
            if extra:
                raise ValueError(
                    "msgpack reader: shard carries unknown "
                    f"columns {sorted(extra)} not in the "
                    "explicit schema"
                )
            yield tuple(m.get(n) for n in names)

    return map_rows(blobs, _parse, schema)
