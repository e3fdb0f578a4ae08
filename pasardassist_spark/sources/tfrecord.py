"""TFRecord source/sink — the training-shard format of the TF/JAX data
ecosystem. Stdlib+numpy only, from the PUBLIC specs:

- TFRecord framing (TensorFlow docs "TFRecord and tf.train.Example"):
  every record is [uint64-LE length][masked CRC32C(length bytes)]
  [payload][masked CRC32C(payload)], mask(c) = ((c>>15 | c<<17) +
  0xa282ead8) mod 2^32, CRC32C = Castagnoli polynomial 0x1EDC6F41
  (reflected 0x82F63B78).
- Payload is a ``tf.train.Example`` protobuf. The subset needed —
  Example{Features{map<string,Feature>}}, Feature one of
  BytesList/FloatList/Int64List — is hand-encoded/decoded with the
  public protobuf wire format (tag = field<<3|wire_type, varints,
  length-delimited submessages). No protobuf library.

Scale shape is the shard layout of ``tables.write_shards``: write = one
.tfrecord shard per partition, task-local, manifest rows back; read =
binaryFile scan (one task per shard — TFRecord is not splittable,
parallelism comes from shard count) + a ``tables.map_rows`` record
parser. Reference semantics: the
export boundary of a training-data build (the reference's closest
analogue is its collection export endpoints in app.service.ts); the
format itself is from the public TensorFlow documentation.
"""

from __future__ import annotations

import os
import struct
from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructType,
)

from pasardassist_spark.tables import map_rows, read_shards, write_shards

# ----------------------------------------------------------------- CRC32C

_CRC32C_POLY = 0x82F63B78  # Castagnoli, reflected


def _make_table() -> np.ndarray:
    tab = np.zeros(256, dtype=np.uint32)
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ _CRC32C_POLY if c & 1 else c >> 1
        tab[i] = c
    return tab


_TABLE = _make_table()


def crc32c(data: bytes) -> int:
    """Table-driven CRC32C (Castagnoli) — matches the RFC 3720 test
    vectors (pytest-pinned)."""
    crc = 0xFFFFFFFF
    tab = _TABLE
    for b in np.frombuffer(data, dtype=np.uint8):
        crc = (crc >> 8) ^ int(tab[(crc ^ int(b)) & 0xFF])
    return crc ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    c = crc32c(data)
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ------------------------------------------------------- protobuf wire fmt


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 70:
            raise ValueError("tfrecord: varint overflow")


def _ld(tag_field: int, payload: bytes) -> bytes:
    """Length-delimited field (wire type 2)."""
    return _varint(tag_field << 3 | 2) + _varint(len(payload)) + payload


def _u64(n: int) -> int:
    """int64 -> the two's-complement uint64 protobuf varints carry."""
    return n & 0xFFFFFFFFFFFFFFFF


def encode_feature(value) -> bytes:
    """Encode one tf.train.Feature: bytes/str -> BytesList(1),
    list/array of float -> FloatList(2), int -> Int64List(3)."""
    if isinstance(value, str):
        value = value.encode("utf-8")
    if isinstance(value, (bytes, bytearray)):
        return _ld(1, _ld(1, bytes(value)))  # BytesList.value = 1
    if isinstance(value, (int, np.integer)):
        body = _varint(_u64(int(value)))
        return _ld(3, _ld(1, body))  # Int64List.value packed = 1
    if isinstance(value, (list, tuple, np.ndarray)):
        floats = np.asarray(value, dtype="<f4").tobytes()
        return _ld(2, _ld(1, floats))  # FloatList.value packed = 1
    raise TypeError(f"tfrecord: unsupported feature type {type(value)}")


def encode_example(features: dict) -> bytes:
    """tf.train.Example: Features(1){ map<string,Feature> feature(1) };
    each map entry is a submessage {key(1): string, value(2): Feature}.
    Keys are emitted in sorted order so encoding is byte-deterministic."""
    entries = b"".join(
        _ld(1, _ld(1, k.encode("utf-8")) + _ld(2, encode_feature(v)))
        for k, v in sorted(features.items())
    )
    return _ld(1, entries)


def _decode_feature(buf: bytes) -> object:
    tag, pos = _read_varint(buf, 0)
    field, wt = tag >> 3, tag & 7
    if wt != 2:
        raise ValueError("tfrecord: Feature field must be length-delimited")
    ln, pos = _read_varint(buf, pos)
    body = buf[pos : pos + ln]
    if field == 1:  # BytesList
        vals = []
        p = 0
        while p < len(body):
            t, p = _read_varint(body, p)
            if t >> 3 != 1:
                raise ValueError("tfrecord: BytesList bad tag")
            bl, p = _read_varint(body, p)
            vals.append(body[p : p + bl])
            p += bl
        return vals[0] if len(vals) == 1 else vals
    if field == 2:  # FloatList (packed)
        t, p = _read_varint(body, 0)
        bl, p = _read_varint(body, p)
        return np.frombuffer(body[p : p + bl], dtype="<f4").tolist()
    if field == 3:  # Int64List (packed varints)
        t, p = _read_varint(body, 0)
        bl, p = _read_varint(body, p)
        end = p + bl
        vals = []
        while p < end:
            v, p = _read_varint(body, p)
            if v >= 1 << 63:
                v -= 1 << 64
            vals.append(v)
        return vals[0] if len(vals) == 1 else vals
    raise ValueError(f"tfrecord: unknown Feature field {field}")


def decode_example(buf: bytes) -> dict:
    tag, pos = _read_varint(buf, 0)
    if tag >> 3 != 1 or tag & 7 != 2:
        raise ValueError("tfrecord: Example must start with Features")
    ln, pos = _read_varint(buf, pos)
    body = buf[pos : pos + ln]
    out: dict = {}
    p = 0
    while p < len(body):
        t, p = _read_varint(body, p)
        if t >> 3 != 1 or t & 7 != 2:
            raise ValueError("tfrecord: Features bad map-entry tag")
        el, p = _read_varint(body, p)
        entry = body[p : p + el]
        p += el
        key = None
        val = None
        q = 0
        while q < len(entry):
            et, q = _read_varint(entry, q)
            fl, q = _read_varint(entry, q)
            part = entry[q : q + fl]
            q += fl
            if et >> 3 == 1:
                key = part.decode("utf-8")
            elif et >> 3 == 2:
                val = _decode_feature(part)
        if key is None:
            raise ValueError("tfrecord: map entry without key")
        out[key] = val
    return out


# ------------------------------------------------------------ record frame


def encode_record(payload: bytes) -> bytes:
    hdr = struct.pack("<Q", len(payload))
    return (
        hdr
        + struct.pack("<I", _masked_crc(hdr))
        + payload
        + struct.pack("<I", _masked_crc(payload))
    )


def decode_records(blob: bytes) -> Iterator[bytes]:
    """Yield payloads; verifies BOTH CRCs (corruption fails loudly,
    FAILFAST like the other closed-loop connectors)."""
    pos = 0
    n = len(blob)
    while pos < n:
        if pos + 12 > n:
            raise ValueError("tfrecord: truncated header")
        hdr = blob[pos : pos + 8]
        (length,) = struct.unpack("<Q", hdr)
        (hcrc,) = struct.unpack("<I", blob[pos + 8 : pos + 12])
        if hcrc != _masked_crc(hdr):
            raise ValueError(f"tfrecord: header CRC mismatch at {pos}")
        start = pos + 12
        if start + length + 4 > n:
            raise ValueError("tfrecord: truncated payload")
        payload = blob[start : start + length]
        (dcrc,) = struct.unpack("<I", blob[start + length : start + length + 4])
        if dcrc != _masked_crc(payload):
            raise ValueError(f"tfrecord: payload CRC mismatch at {pos}")
        yield payload
        pos = start + length + 4


# ------------------------------------------------------------- spark level


def write_tfrecord(df: DataFrame, path: str) -> DataFrame:
    """Distributed TFRecord export: every input column becomes one
    Example feature (string/binary -> BytesList, integral -> Int64List,
    float/array<float> -> FloatList), one ``part-{pid:05d}.tfrecord``
    shard per partition through ``tables.write_shards``, which returns
    the manifest."""
    os.makedirs(path, exist_ok=True)
    fields = [(f.name, f.dataType) for f in df.schema.fields]

    def _to_feature(dt, v):
        if isinstance(dt, (StringType, BinaryType)):
            return v
        if isinstance(dt, LongType) or dt.simpleString() in (
            "int",
            "smallint",
            "tinyint",
        ):
            return int(v)
        if isinstance(dt, (FloatType, DoubleType)):
            return [float(v)]
        if isinstance(dt, ArrayType):
            return list(v)
        raise TypeError(f"tfrecord: unsupported column type {dt}")

    def _write(fh, batches) -> int:
        n = 0
        for batch in batches:
            for row in batch.itertuples(index=False):
                ex = encode_example(
                    {name: _to_feature(dt, getattr(row, name)) for name, dt in fields}
                )
                fh.write(encode_record(ex))
                n += 1
        return n

    return write_shards(df, path, "part-{:05d}.tfrecord", _write)


def read_tfrecord(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """Distributed TFRecord read under an EXPLICIT schema (textio's
    never-infer contract): features are pulled from each Example and
    cast per the schema's field types. ``binaryFile`` hands each task
    its whole shard as one value: task memory is O(shard), and a shard
    of 2 GiB or more is refused."""
    blobs = read_shards(spark, path, "*.tfrecord").select("content")
    fields = [(f.name, f.dataType) for f in schema.fields]

    def _from_feature(dt, v):
        if isinstance(dt, StringType):
            return v.decode("utf-8") if isinstance(v, bytes) else v
        if isinstance(dt, BinaryType):
            return v
        # every integral width the writer accepts round-trips (the write
        # side stores all of int/smallint/tinyint as Int64List — the
        # read surface must be symmetric, not LongType-only)
        if isinstance(dt, LongType) or dt.simpleString() in (
            "int",
            "smallint",
            "tinyint",
        ):
            return int(v)
        if isinstance(dt, (FloatType, DoubleType)):
            return float(v[0] if isinstance(v, list) else v)
        if isinstance(dt, ArrayType):
            return list(v)
        raise TypeError(f"tfrecord: unsupported column type {dt}")

    def _parse(content):
        for payload in decode_records(bytes(content)):
            ex = decode_example(payload)
            yield tuple(_from_feature(dt, ex[name]) for name, dt in fields)

    return map_rows(blobs, _parse, schema)
