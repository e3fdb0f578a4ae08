"""WARC 1.0 source/sink (ISO 28500) — the interchange format of every
web-scale training corpus (Common Crawl WARC/WET). Stdlib-only, like the
raster codecs: WARC is a text-header + Content-Length-framed-payload
format, so a correct parser needs no external library.

Scale shape — how the real pipelines shard this format, mirrored here:

- WRITE: one ``.warc`` file per Spark partition through
  ``tables.write_shards``, each task serializing and writing its own
  shard (the Hadoop output pattern); no driver funnel, no shuffle. The
  returned manifest (file, n_records, n_bytes) is one row per shard —
  metadata-scale.
- READ: ``binaryFile`` scan, one row per shard, then a
  ``tables.map_rows`` record parser. A WARC file is record-framed, not
  line-framed, so the unit of parallelism is the FILE (exactly as in
  production, where .warc.gz members are non-splittable); parallelism
  comes from shard count, which the writer controls via partitioning.
  Payload slicing is Content-Length-driven — a payload containing the
  bytes ``WARC/1.0`` cannot desynchronize the parser (pytest-pinned).

Reference semantics: the external-corpus ingest boundary of the
reference's collection importers (app.service.ts scan/import endpoints),
re-expressed for the archive format the open web actually ships.
"""

from __future__ import annotations

import gzip
import os
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from pasardassist_spark.tables import map_rows, read_shards, write_shards

_CRLF = b"\r\n"
# Fixed, valid ISO 8601 stamp: WARC-Date is mandatory per ISO 28500 but a
# wall clock would break bit-stable roundtrips; callers may override.
_FIXED_DATE = "2026-01-01T00:00:00Z"

RECORD_SCHEMA = StructType(
    [
        StructField("record_id", StringType(), True),
        StructField("warc_type", StringType(), True),
        StructField("target_uri", StringType(), True),
        StructField("content_length", LongType(), True),
        StructField("payload", StringType(), True),
        StructField("shard", StringType(), True),
    ]
)

def encode_record(
    record_id: str,
    payload: bytes,
    warc_type: str = "resource",
    target_uri: str | None = None,
    date: str = _FIXED_DATE,
) -> bytes:
    """Serialize ONE WARC 1.0 record: version line, named headers, blank
    line, ``Content-Length`` bytes of payload, blank-line terminator."""
    headers = [
        b"WARC/1.0",
        b"WARC-Type: " + warc_type.encode("utf-8"),
        b"WARC-Record-ID: <urn:uuid:" + record_id.encode("utf-8") + b">",
        b"WARC-Date: " + date.encode("utf-8"),
    ]
    if target_uri is not None:
        headers.append(b"WARC-Target-URI: " + target_uri.encode("utf-8"))
    headers.append(b"Content-Length: " + str(len(payload)).encode("ascii"))
    return _CRLF.join(headers) + _CRLF * 2 + payload + _CRLF * 2


def decode_records(blob: bytes) -> Iterator[dict]:
    """Parse a WARC shard into record dicts. Framing is header-driven:
    find the header/payload boundary (first CRLFCRLF), read exactly
    ``Content-Length`` payload bytes, skip the 2-CRLF record terminator.
    Raises ValueError on a malformed record (missing version line or
    Content-Length, truncated payload) — FAILFAST, matching textio's
    closed-loop policy; quarantine ingest wraps this per-shard."""
    pos = 0
    n = len(blob)
    while pos < n:
        hdr_end = blob.find(_CRLF * 2, pos)
        if hdr_end < 0:
            raise ValueError(f"WARC: no header terminator after byte {pos}")
        lines = blob[pos:hdr_end].split(_CRLF)
        if lines[0] not in (b"WARC/1.0", b"WARC/1.1"):
            raise ValueError(f"WARC: bad version line {lines[0][:40]!r}")
        fields: dict[str, str] = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(b":")
            fields[k.strip().decode("utf-8").lower()] = v.strip().decode(
                "utf-8"
            )
        if "content-length" not in fields:
            raise ValueError("WARC: record missing Content-Length")
        clen = int(fields["content-length"])
        body_start = hdr_end + 4
        if body_start + clen > n:
            raise ValueError("WARC: truncated payload")
        payload = blob[body_start : body_start + clen]
        rid = fields.get("warc-record-id", "")
        if rid.startswith("<urn:uuid:") and rid.endswith(">"):
            rid = rid[len("<urn:uuid:") : -1]
        yield {
            "record_id": rid,
            "warc_type": fields.get("warc-type"),
            "target_uri": fields.get("warc-target-uri"),
            "content_length": clen,
            "payload": payload.decode("utf-8"),
        }
        pos = body_start + clen
        # tolerate the spec's 2-CRLF terminator or a bare EOF
        while blob.startswith(_CRLF, pos):
            pos += 2


def split_gzip_members(blob: bytes) -> Iterator[bytes]:
    """Split a concatenation of independent gzip members and decompress
    each — the actual Common Crawl .warc.gz layout (one member PER
    RECORD, so a reader can seek to any record offset without
    decompressing the whole shard). Boundaries come from streaming
    decompression: zlib's ``unused_data`` after each member's trailer is
    the start of the next member."""
    mv = memoryview(blob)  # O(1) slicing: no quadratic re-copy across members
    pos = 0
    n = len(blob)
    while pos < n:
        d = zlib.decompressobj(wbits=31)  # gzip wrapper
        out = d.decompress(mv[pos:])
        if not d.eof:
            raise ValueError(f"warc.gz: truncated gzip member at {pos}")
        yield out
        consumed = (n - pos) - len(d.unused_data)
        if consumed <= 0:
            raise ValueError(f"warc.gz: empty gzip member at {pos}")
        pos += consumed


def write_warc(
    df: DataFrame,
    path: str,
    id_col: str = "record_id",
    payload_col: str = "payload",
    uri_col: str | None = None,
    compress: bool = False,
) -> DataFrame:
    """Distributed WARC export: each task serializes its partition into
    ``<path>/part-{pid:05d}.warc`` through ``tables.write_shards``.
    Returns the manifest DataFrame (file, n_records, n_bytes) — NOT the
    data; like any sink, the write is the effect. Caller controls shard
    count and ordering via the input's partitioning (e.g.
    repartition(n, key)).

    ``compress=True`` writes ``.warc.gz`` in the Common Crawl layout:
    one gzip MEMBER per record (mtime pinned to 0 so shards are
    byte-deterministic), concatenated — record-seekable, and what every
    CC-consuming pipeline actually reads."""
    os.makedirs(path, exist_ok=True)
    cols = [F.col(id_col).cast("string").alias("rid"),
            F.col(payload_col).cast("string").alias("pl")]
    if uri_col is not None:
        cols.append(F.col(uri_col).cast("string").alias("uri"))
    src = df.select(*cols)

    has_uri = uri_col is not None

    def _write(fh, batches) -> int:
        n = 0
        for batch in batches:
            for row in batch.itertuples(index=False):
                rec = encode_record(
                    row.rid,
                    row.pl.encode("utf-8"),
                    target_uri=row.uri if has_uri else None,
                )
                fh.write(gzip.compress(rec, mtime=0) if compress else rec)
                n += 1
        return n

    ext = "warc.gz" if compress else "warc"
    return write_shards(src, path, "part-{:05d}." + ext, _write)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WARC read: binaryFile scan (one row per shard) into a
    ``tables.map_rows`` record parser. The ``shard`` column carries
    provenance — real pipelines partition-prune and debug by shard path.
    Shards are sniffed per-file: the gzip magic (1f 8b) routes through
    the member-splitter, anything else parses as plain WARC — a
    directory may mix both. ``binaryFile`` hands each task its whole
    shard as one value: task memory is O(shard), and a shard of 2 GiB or
    more is refused."""
    blobs = read_shards(spark, path, "*.warc*").select("path", "content")

    def _parse(shard, content):
        blob = bytes(content)
        if blob[:2] == b"\x1f\x8b":
            blob = b"".join(split_gzip_members(blob))
        for rec in decode_records(blob):
            # decode_records yields its keys in RECORD_SCHEMA order
            yield (*rec.values(), shard)

    return map_rows(blobs, _parse, RECORD_SCHEMA)
