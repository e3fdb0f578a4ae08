"""Loaders for the driver-generated test tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under /root/testdata/sf*/.

At 100 TB these would be partitioned tables (bronze partitioned by
chain/date in the reference domain — SURVEY.md §1.4); here each is a single
parquet file, but every query still goes through ``load`` so the scan layer
is one swap away from a catalog/Delta table.

Rows built on the driver (lookup tables, trained artifacts, small collected
readouts) enter plans through ``local_frame`` only; per-row Python work
(parsers, codecs, fixture synthesis) runs through ``map_rows``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructType,
    TimestampType,
    _parse_datatype_string,
)

from pasardassist_spark.caching import scratch_dir, scratch_root

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_SHIPPED_APPS: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``pasardassist_spark`` importable on Python workers regardless of
    the driver process's cwd/PYTHONPATH: mapInPandas closures reference
    module-level helpers (pickled by reference), so workers must be able to
    import the package. Zips the package once per session and addPyFile()s
    it — the Spark-idiomatic dependency shipping path, same as on a real
    cluster. The zip lives in the scratch root, not in a query's scratch
    directory: the application's tasks read it until the process exits."""
    app = spark.sparkContext.applicationId
    if app in _SHIPPED_APPS:
        return
    import zipfile

    pkg = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg)
    zpath = os.path.join(scratch_root(), f"pasardassist_spark_{app}.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED_APPS.add(app)


# Payload tables feeding per-row CPU-heavy operators (shingling, hashing,
# vector math, pandas stages): fanning these out pays for its shuffle many
# times over. Measure tables (lineitem/orders/events) are NOT fanned out —
# their queries are scan -> partial-agg shapes where map-side combine before
# the first shuffle is the whole optimization, and an injected repartition
# would trade it for a full-row shuffle. Dims are broadcast-joined and must
# never be repartitioned.
_FANOUT_TABLES = {"documents", "embeddings"}

_SPLIT_CACHE: dict[str, int] = {}


def _max_scan_tasks(path: str) -> int:
    """Upper bound on scan parallelism for a single parquet file: Spark
    assigns one task per row group (footer metadata read only, no job)."""
    if path not in _SPLIT_CACHE:
        try:
            import pyarrow.parquet as pq

            _SPLIT_CACHE[path] = pq.ParquetFile(path).num_row_groups
        except Exception:
            _SPLIT_CACHE[path] = 1 << 30  # unknown layout: assume parallel
    return _SPLIT_CACHE[path]


def _normalize_event_time(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP regardless of how the
    parquet generation encoded it.

    Known encodings across driver testdata generations:
    - TIMESTAMP(NANOS), surfaced as ``bigint`` nanos under
      ``spark.sql.legacy.parquet.nanosAsLong`` — values are
      microsecond-aligned so ``timestamp_micros(ts div 1000)`` is lossless;
    - plain ``timestamp[us]`` / ``timestamp_ntz`` — already event time,
      pass through untouched.

    A schema-drifted upstream silently corrupting event time is a
    catastrophic bug at lake scale, so the conversion is keyed off the
    *loaded* dtype, never assumed.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dtype == "timestamp_ntz":
        # Downstream code (windows, watermarks, oracles) expects a plain
        # TIMESTAMP; values are wall-clock UTC either way in this dataset.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    elif dtype != "timestamp":
        # A new upstream encoding must be added here DELIBERATELY — the r4
        # incident was exactly a drifted encoding flowing through silently
        # and corrupting every event-time result downstream.
        raise TypeError(
            f"events.ts has unrecognized dtype {dtype!r}; expected one of "
            "bigint (TIMESTAMP(NANOS) under nanosAsLong), timestamp, "
            "timestamp_ntz. Refusing to guess an event-time conversion."
        )
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _ship_package(spark)
    # Always the parquet file: bucketed silver tables (sources/lake.py) are
    # read by name with spark.table, never substituted here.
    if name == "events":
        # Some generations of events.parquet carry TIMESTAMP(NANOS); Spark
        # refuses that type unless nanosAsLong is set. Harmless for files
        # that encode ts as timestamp[us]. The driver's harness builds its
        # own SparkSession (not via session.get_spark), so set it here at
        # the scan layer — it is runtime-settable.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Resolve against the Python process's current directory, as the
    # os.path callers (streaming.stage_file_source) do; Spark would resolve
    # a relative path against the JVM's start-up directory.
    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events":
        df = _normalize_event_time(df)
    if name in _FANOUT_TABLES:
        # The driver testdata is one single-row-group file per table, so the
        # whole map side (scan -> explode -> hash -> partial agg) would run
        # as ONE task. Fan out when — and only when — the file layout cannot
        # feed the cores; on a real lake (many files/row groups) this is a
        # no-op, so no extra shuffle exists at scale. Catalyst pushes
        # filters and column pruning below the repartition, so the shuffle
        # carries pruned, filtered rows only.
        target = spark.sparkContext.defaultParallelism
        if _max_scan_tasks(path) < target:
            df = df.repartition(target)
            if name == "documents":
                # Pushdown fence (r19, measured): Catalyst pushes every
                # deterministic filter BELOW this repartition, so a query
                # gating on a heavy text expression (quality score, the
                # char-trigram language model, tokenize-and-count) ran
                # that expression inside the ONE scan task the single-
                # row-group file allows — serializing exactly the work
                # the fan-out exists to spread (curate_corpus: 2.2 s ->
                # 0.9 s warm at 32c once fenced). A filter on
                # spark_partition_id() is always true (ids are
                # non-negative), deterministic in value, and — being
                # formally non-deterministic to the optimizer — blocks
                # predicate pushdown through it while leaving column
                # pruning intact (verified: the scan still reads only
                # referenced columns). Nothing useful is lost below: a
                # single-row-group parquet file cannot row-group-prune,
                # and this branch does not exist on a real multi-file
                # lake. Scoped to documents: its consumers gate on heavy
                # text math; embeddings filters are cheap id predicates
                # that benefit from staying at the scan.
                df = df.filter(F.spark_partition_id() >= 0)
    return df


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A DataFrame over driver-side rows (tuples or ``Row``s, positional)
    that never starts a Python worker.

    ``spark.createDataFrame(list, schema)`` plans a Python-RDD scan: every
    action on the frame, and on every plan it joins, runs Python workers
    to deserialize the rows. Sent as a pyarrow Table the same rows become
    a ``LocalRelation`` below
    ``spark.sql.execution.arrow.localRelationThreshold`` (an Arrow-backed
    JVM RDD above it), which runs no job. Collecting a 16-row centroid
    table on a 4-core host: one 4-task job, 2.0 s the first time in a
    session and 0.4 s after, against no job, 0.7 s the first time (the
    pyarrow import) and 30 ms after. This Arrow path does not depend on
    ``spark.sql.execution.arrow.pyspark.enabled``.

    Values mean what they mean to ``createDataFrame``; a naive
    ``datetime`` in a TIMESTAMP column is wall time in this process's
    local zone.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = []
    for i, (field, arrow_field) in enumerate(zip(schema.fields, arrow_schema)):
        conv = _to_arrow_value(field.dataType)
        values = [r[i] for r in rows] if conv is None else [conv(r[i]) for r in rows]
        columns.append(pa.array(values, type=arrow_field.type))
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), schema
    )


def map_rows(df: DataFrame, fn, schema: StructType | str) -> DataFrame:
    """Run the per-row Python function ``fn`` over ``df`` in one
    Arrow-batched ``mapInPandas`` stage.

    ``fn(*row)`` gets each row's values in ``df.columns`` order and yields
    zero or more output tuples in the field order of ``schema``. Each
    pandas batch goes back as a dict of per-column lists passed to
    ``pd.DataFrame``, so pandas and Arrow infer types from the Python
    values alone. A batch with no output rows is not sent (pandas types
    its empty columns float64, which Arrow cannot turn into binary or
    array columns). An exception raised in ``fn`` fails the task and the
    action; parsers raise on a bad payload rather than emit a wrong row.
    Per-partition setup belongs in the closure that builds ``fn``.
    """
    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    names = schema.fieldNames()

    def _batches(it):
        import pandas as pd

        for pdf in it:
            rows = zip(*(pdf.iloc[:, i] for i in range(pdf.shape[1])))
            out = [o for row in rows for o in fn(*row)]
            if out:
                yield pd.DataFrame({n: list(c) for n, c in zip(names, zip(*out))})

    return df.mapInPandas(_batches, schema)


def write_shards(df: DataFrame, path: str, name: str, write) -> DataFrame:
    """Write each partition of ``df`` to its own file under ``path`` in
    one ``mapInPandas`` stage; return the manifest, one
    ``(file, n_records, n_bytes)`` row per file written.

    The task for partition ``pid`` opens ``os.path.join(path,
    name.format(pid))`` in binary mode and calls ``write(fh, batches)``
    with the partition's pandas batches; ``write`` returns the number of
    records it wrote. A partition with no records leaves no file and no
    manifest row. ``n_bytes`` is the file's size on disk. An exception
    raised in ``write`` fails the task and the action. This is the file
    sink layout of Structured Streaming: each task writes its own file
    and only the manifest reaches the driver.
    """

    def _write(it):
        import pandas as pd
        from pyspark import TaskContext

        file = os.path.join(path, name.format(TaskContext.get().partitionId()))
        with open(file, "wb") as fh:
            n = write(fh, it)
        if n == 0:
            os.remove(file)
            return
        yield pd.DataFrame(
            {"file": [file], "n_records": [n], "n_bytes": [os.path.getsize(file)]}
        )

    return df.mapInPandas(_write, "file string, n_records long, n_bytes long")


def export_shards(write, df: DataFrame, prefix: str, **options) -> str:
    """Run the shard sink ``write(df, dir, **options)`` into a fresh
    ``caching.scratch_dir``, removed at the next ``release_all``, and
    return the directory. Raises ``ValueError`` when the manifest counts
    no record: an export that wrote nothing would read back as an empty
    result."""
    tmp = scratch_dir(prefix)
    if sum(m.n_records for m in write(df, tmp, **options).collect()) == 0:
        raise ValueError(f"{write.__name__} wrote no records to {tmp}")
    return tmp


def read_shards(spark: SparkSession, path: str, pattern: str) -> DataFrame:
    """The read side of ``write_shards``: the ``binaryFile`` frame (path,
    modificationTime, length, content) of the files in directory ``path``
    whose names match the glob ``pattern``, one row per shard. The
    directory is loaded with ``pathGlobFilter``: loading a glob path
    makes Spark probe ``<glob>/_spark_metadata`` and log a
    ``FileNotFoundException`` for every read. A directory with no matching
    shard reads as 0 rows; a missing directory raises PATH_NOT_FOUND."""
    return (
        spark.read.format("binaryFile").option("pathGlobFilter", pattern).load(path)
    )


def _to_arrow_value(dt: DataType):
    """Per-value converter for ``dt``, or None when pyarrow takes the
    Python value as is. Only TIMESTAMP (at any depth) needs one: pyarrow
    would read a naive datetime as UTC."""
    if isinstance(dt, TimestampType):
        return _aware
    if isinstance(dt, ArrayType):
        conv = _to_arrow_value(dt.elementType)
        return conv and (lambda v: v if v is None else [conv(x) for x in v])
    if isinstance(dt, MapType):
        kc, vc = _to_arrow_value(dt.keyType), _to_arrow_value(dt.valueType)
        if kc is None and vc is None:
            return None
        kc, vc = kc or _same, vc or _same
        return lambda v: v if v is None else {kc(a): vc(b) for a, b in v.items()}
    if isinstance(dt, StructType):
        convs = [_to_arrow_value(f.dataType) for f in dt.fields]
        if all(c is None for c in convs):
            return None
        convs = [c or _same for c in convs]
        return lambda v: v if v is None else tuple(c(x) for c, x in zip(convs, v))
    return None


def _same(v):
    return v


def _aware(v):
    import datetime

    return v if v is None or v.tzinfo else v.astimezone(datetime.timezone.utc)
