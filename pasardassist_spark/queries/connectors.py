"""Source-connector roundtrip queries: CSV and ORC.

Sibling of ``src_jsonl_roundtrip`` (queries/curation.py): each connector
is exercised closed-loop — export a table through the format, read it
back under the ORIGINAL explicit schema, and hash-compare against the
parquet table itself. The property under test is lossless value
round-tripping at the interchange boundary, the precondition for using
the format in a 100 TB pipeline at all.

Contract shared with sources/textio.py: reads ALWAYS pass an explicit
schema (inference is a second full pass over the data and a silent
dtype-drift hazard), and the corrupt-record policy is explicit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pasardassist_spark.caching import scratch_dir
from pasardassist_spark.queries.registry import query
from pasardassist_spark.tables import export_shards, load


@query(
    "src_csv_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV connector, closed-loop on the documents table — the hostile
    case for CSV: free text with embedded delimiters, quotes, and
    newlines. The writer pins the full quoting dialect (quote-doubling)
    and the reader reverses it with multiLine, so the comparison proves
    dialect symmetry, not just happy-path parsing. Side effect and
    cleanup semantics match src_jsonl_roundtrip (a fresh
    ``caching.scratch_dir`` per call, removed at the next
    ``release_all``)."""
    from pasardassist_spark.sources.textio import read_csv, write_csv

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    tmp = scratch_dir("pasard_csv_")
    write_csv(d, tmp)
    return read_csv(spark, tmp, d.schema)


@query(
    "src_orc_roundtrip",
    oracle="""
    SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
           l_extendedprice, l_returnflag, l_shipdate
    FROM lineitem
    """,
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC connector, closed-loop on lineitem (mixed long/int/double/
    string/timestamp columns): write ORC, read back under the original
    explicit schema. ORC is the second columnar lake format a Spark
    engine is expected to speak natively (predicate pushdown and column
    pruning work the same as parquet); the roundtrip pins type fidelity
    — timestamps and doubles must survive bit-exactly."""
    d = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        "l_shipdate",
    )
    tmp = scratch_dir("pasard_orc_")
    d.write.mode("overwrite").orc(tmp)
    return spark.read.schema(d.schema).orc(tmp)


@query(
    "src_avro_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def src_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro Object Container source/sink, closed-loop (sources/avro.py):
    export the documents table as 8 deflate-codec .avro shards (hand-
    rolled container writer — magic, schema/codec metadata map, zigzag
    block framing, per-block sync markers), read them back under the
    ORIGINAL explicit schema with the binaryFile + mapInPandas decoder,
    and hash-compare against the parquet table. Certifies the full
    binary-encoding path (zigzag varints, union null branches, UTF-8
    lengths, raw-deflate blocks) on real free text. Write is
    task-parallel (shard per partition), read is task-parallel (shard
    per task); the only collect is the 8-row shard manifest. Completes
    the interchange quartet: JSONL, WARC, TFRecord, Avro."""
    from pasardassist_spark.sources.avro import read_avro, write_avro

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    staged = d.repartition(8, "doc_id")
    tmp = export_shards(write_avro, staged, "pasard_avro_", codec="deflate")
    return read_avro(spark, tmp, d.schema)


@query(
    "src_xml_roundtrip",
    oracle="""
    SELECT doc_id,
           text || ' <i lang="x''y">&tail ]]></i>' AS text,
           lang, source, n_chars
    FROM documents
    """,
)
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML connector, closed-loop on the documents table with the
    hostile suffix INJECTED before export: every row's text gains
    angle brackets, an ampersand-led entity-lookalike, a CDATA
    terminator, and mixed quotes — the characters whose escaping is the
    whole point of the format (sources/xmlio.py).  Write one shard per
    partition, read back under the ORIGINAL explicit schema via
    streaming iterparse, hash-compare against the same injection done
    in SQL.  A lossy escape/unescape pair cannot survive the value
    hash.  C0 control characters raise by name at the writer (XML 1.0
    cannot carry them; documented seam)."""
    from pyspark.sql import functions as F

    from pasardassist_spark.sources.xmlio import read_xml, write_xml

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" <i lang=\"x'y\">&tail ]]></i>")
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    tmp = export_shards(write_xml, d.repartition(8, "doc_id"), "pasard_xml_")
    return read_xml(spark, tmp, d.schema)


@query(
    "src_arrow_ipc_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def src_arrow_ipc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC (Feather v2) source/sink, closed-loop
    (sources/arrowipc.py): export the documents table as 8 .arrow
    shards (the on-disk layout HuggingFace datasets ships corpora in),
    read them back under the ORIGINAL explicit schema with the
    binaryFile + footer-indexed decoder, and hash-compare against the
    parquet table. Write is task-parallel (shard per partition), read
    is task-parallel (shard per task); the only collect is the 8-row
    shard manifest. Type-fidelity across the full scalar/temporal/
    nested matrix is pinned separately in tests/test_arrowipc.py.
    Extends the interchange family: JSONL, WARC, TFRecord, Avro,
    Arrow."""
    from pasardassist_spark.sources.arrowipc import (
        read_arrow_ipc,
        write_arrow_ipc,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    staged = d.repartition(8, "doc_id")
    tmp = export_shards(write_arrow_ipc, staged, "pasard_arrow_")
    return read_arrow_ipc(spark, tmp, d.schema)


@query(
    "src_msgpack_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def src_msgpack_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MessagePack stream source/sink, closed-loop
    (sources/msgpackio.py): export the documents table as 8 row-map
    stream shards (spec-faithful hand-rolled codec — smallest-width
    integers, fixstr/str8-32 UTF-8 lengths, fixmap framing), read them
    back under the ORIGINAL explicit schema with the binaryFile +
    mapInPandas decoder, and hash-compare against the parquet table.
    Certifies the full binary path (every integer width the spec
    allows, multi-byte UTF-8 in str lengths, nil nulls) on real free
    text. Write is task-parallel (shard per partition), read is
    task-parallel (shard per task); the only collect is the 8-row shard
    manifest. Extends the interchange shelf to six formats: JSONL,
    WARC, TFRecord, Avro, Arrow IPC, MessagePack."""
    from pasardassist_spark.sources.msgpackio import (
        read_msgpack,
        write_msgpack,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    staged = d.repartition(8, "doc_id")
    tmp = export_shards(write_msgpack, staged, "pasard_msgpack_")
    return read_msgpack(spark, tmp, d.schema)
