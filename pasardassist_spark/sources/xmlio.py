"""XML record source/sink — the enterprise-interchange format that still
fronts a surprising share of real ingestion feeds (SOAP exports, sitemap
dumps, library/patent corpora).  Stdlib only (xml.etree + sax escaping),
from the public XML 1.0 specification.

Container layout: one ``.xml`` shard per partition, a single ``<records>``
root, one ``<r>`` element per row, one child element per non-null column
(``<doc_id>7</doc_id>``); NULL columns are omitted and reconstructed as
nulls on read.  Text content is entity-escaped (&amp; &lt; &gt;); XML 1.0
cannot represent most C0 control characters AT ALL (not even as numeric
references), so the writer raises by name on them rather than silently
corrupting — the caller strips or base64s such rows first (the documented
seam, same discipline as the codec families).

Scale shape is the shard layout of ``tables.write_shards``: write = one
shard per partition with manifest rows back (no driver funnel); read =
binaryFile scan, one task per shard, iterparse streaming inside a
``tables.map_rows`` stage, with values converted under an EXPLICIT
schema (textio's never-infer contract).
"""

from __future__ import annotations

import os
import re
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructType,
    TimestampType,
)

from pasardassist_spark.tables import map_rows, read_shards, write_shards

# XML 1.0 Char production: #x9 | #xA | #xD | [#x20-#xD7FF] | ...
_XML_ILLEGAL = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")


def _cell_to_text(v, dtype) -> str:
    if isinstance(dtype, TimestampType):
        return pd.Timestamp(v).isoformat()
    if isinstance(dtype, BooleanType):
        return "true" if v else "false"
    s = str(v)
    if _XML_ILLEGAL.search(s):
        raise ValueError(
            "XML 1.0 cannot represent C0 control characters; "
            "strip or encode the column before write_xml"
        )
    return escape(s)


def _text_to_cell(s: str, dtype):
    if isinstance(dtype, (LongType, IntegerType)):
        return int(s)
    if isinstance(dtype, (DoubleType, FloatType)):
        return float(s)
    if isinstance(dtype, BooleanType):
        return s == "true"
    if isinstance(dtype, TimestampType):
        return pd.Timestamp(s)
    return s


def _is_null(v) -> bool:
    return v is None or v is pd.NaT or (isinstance(v, float) and v != v)


def write_xml(df: DataFrame, path: str, root: str = "records") -> DataFrame:
    """Distributed XML export: one UTF-8 ``part-{pid:05d}.xml`` shard per
    partition through ``tables.write_shards``, which returns the
    manifest; empty partitions leave no file."""
    os.makedirs(path, exist_ok=True)
    fields = [(f.name, f.dataType) for f in df.schema.fields]

    def _write(fh, batches) -> int:
        fh.write(f'<?xml version="1.0" encoding="UTF-8"?>\n<{root}>\n'.encode())
        n = 0
        for batch in batches:
            for row in batch.itertuples(index=False):
                cells = "".join(
                    f"<{name}>{_cell_to_text(v, dtype)}</{name}>"
                    for (name, dtype), v in zip(fields, row)
                    if not _is_null(v)
                )
                fh.write(f"<r>{cells}</r>\n".encode("utf-8"))
                n += 1
        fh.write(f"</{root}>\n".encode("utf-8"))
        return n

    return write_shards(df, path, "part-{:05d}.xml", _write)


def read_xml(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Distributed XML read under an EXPLICIT schema: binaryFile scan,
    one task per shard, iterparse (the parser frees each ``<r>`` element
    after yielding it). Unknown child elements are ignored; missing ones
    become nulls. ``binaryFile`` hands each task its whole shard as one
    value: task memory is O(shard), and a shard of 2 GiB or more is
    refused."""
    import io

    blobs = read_shards(spark, path, "*.xml").select("content")
    names = [f.name for f in schema.fields]
    dtypes = {f.name: f.dataType for f in schema.fields}

    def _parse(content):
        try:
            for _, elem in ET.iterparse(io.BytesIO(bytes(content)), events=("end",)):
                if elem.tag != "r":
                    continue
                row = {
                    child.tag: _text_to_cell(child.text or "", dtypes[child.tag])
                    for child in elem
                    if child.tag in dtypes
                }
                yield tuple(row.get(n) for n in names)
                elem.clear()
        except ET.ParseError as exc:
            # ParseError subclasses SyntaxError, not ValueError —
            # normalize so callers see the textio error contract
            raise ValueError(f"malformed XML shard: {exc}") from exc

    return map_rows(blobs, _parse, schema)
