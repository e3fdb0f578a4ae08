"""``tables.write_shards``: the one file-per-partition sink.

Pins (a) that no module under ``pasardassist_spark/`` other than
``tables.py`` names ``TaskContext`` or assigns a ``MANIFEST_SCHEMA`` (a
format writer picks its file names and its manifest through
``write_shards``), (b) the sink's contract: one
``name.format(pid)`` file and one ``(file, n_records, n_bytes)`` row per
non-empty partition, ``n_bytes`` the size on disk, and an exception in
``write`` failing the action, (c) that ``export_shards`` refuses an
export that wrote no records, and (d) the read side: no ``binaryFile``
load of a glob path (Spark logs a ``FileNotFoundException`` probing
``<glob>/_spark_metadata``), and ``read_shards`` reading a directory with
no matching shard as 0 rows while a missing directory still raises.
"""

from __future__ import annotations

import ast
import os

import pytest

from pasardassist_spark import tables

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pasardassist_spark"
)


def _own_shard_layout(root: str) -> list[str]:
    """Code (not docstrings) outside ``tables.py`` that uses the name
    ``TaskContext`` or assigns ``MANIFEST_SCHEMA``."""
    found = []
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == os.path.join(PKG, "tables.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                names = []
                if isinstance(node, ast.Name):
                    names = [node.id]
                elif isinstance(node, ast.Attribute):
                    names = [node.attr]
                elif isinstance(node, ast.alias):
                    names = [node.name.rsplit(".", 1)[-1]]
                if "TaskContext" in names:
                    found.append(f"{os.path.relpath(path, root)}:{node.lineno} TaskContext")
                if isinstance(node, (ast.Assign, ast.AnnAssign)):
                    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                    if any(isinstance(t, ast.Name) and t.id == "MANIFEST_SCHEMA" for t in targets):
                        found.append(f"{os.path.relpath(path, root)}:{node.lineno} MANIFEST_SCHEMA")
    return found


def test_only_tables_writes_shards():
    offenders = _own_shard_layout(PKG)
    assert not offenders, f"write per-partition files through tables.write_shards: {offenders}"


def test_scan_flags_an_own_shard_writer(tmp_path):
    (tmp_path / "sink.py").write_text(
        '"""Names TaskContext and MANIFEST_SCHEMA in prose only."""\n'
        'MANIFEST_SCHEMA = "file string"\n'
        "def write(df):\n"
        "    def _write(it):\n"
        "        from pyspark import TaskContext\n"
        "        pid = TaskContext.get().partitionId()\n"
        "        yield pid\n"
        "    return _write\n"
    )
    assert _own_shard_layout(str(tmp_path)) == [
        "sink.py:2 MANIFEST_SCHEMA",
        "sink.py:5 TaskContext",
        "sink.py:6 TaskContext",
    ]


def _glob_shard_loads(root: str) -> list[str]:
    """``.load(...)`` calls on a ``format("binaryFile")`` reader whose
    arguments contain a string with ``*``."""
    found = []
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "load"
                ):
                    continue
                binary = any(
                    isinstance(n, ast.Constant) and n.value == "binaryFile"
                    for n in ast.walk(node.func.value)
                )
                globbed = any(
                    isinstance(n, ast.Constant) and isinstance(n.value, str) and "*" in n.value
                    for a in node.args
                    for n in ast.walk(a)
                )
                if binary and globbed:
                    found.append(f"{os.path.relpath(path, root)}:{node.lineno}")
    return found


def test_no_binary_file_load_of_a_glob_path():
    offenders = _glob_shard_loads(PKG)
    assert not offenders, f"load the directory through tables.read_shards: {offenders}"


def test_scan_flags_a_glob_binary_file_load(tmp_path):
    (tmp_path / "reader.py").write_text(
        "import os\n"
        "def read(spark, path):\n"
        "    a = spark.read.format('binaryFile').load(path)\n"
        "    return spark.read.format('binaryFile').load(\n"
        "        os.path.join(path, '*.avro'))\n"
    )
    assert _glob_shard_loads(str(tmp_path)) == ["reader.py:4"]


def test_read_shards_of_a_directory_without_shards_is_empty(spark, tmp_path):
    from pasardassist_spark.sources.msgpackio import read_msgpack

    (tmp_path / "notes.txt").write_text("not a shard")
    assert tables.read_shards(spark, str(tmp_path), "*.msgpack").count() == 0
    assert read_msgpack(spark, str(tmp_path), spark.range(1).schema).count() == 0


def test_read_shards_of_a_missing_directory_raises(spark, tmp_path):
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        tables.read_shards(spark, str(tmp_path / "absent"), "*.msgpack").count()


def _line_writer():
    """One ``id`` per line; built per test so Spark pickles it by value."""

    def write(fh, batches) -> int:
        n = 0
        for pdf in batches:
            for i in pdf["id"]:
                fh.write(f"{i}\n".encode())
                n += 1
        return n

    return write


def test_one_file_per_non_empty_partition(spark, tmp_path):
    # 3 rows over 8 partitions: at least five partitions are empty
    df = spark.range(3).repartition(8)
    pids = sorted({r.pid for r in df.selectExpr("spark_partition_id() pid").collect()})
    manifest = tables.write_shards(df, str(tmp_path), "part-{:05d}.txt", _line_writer()).collect()
    assert sorted(os.listdir(tmp_path)) == [f"part-{p:05d}.txt" for p in pids]
    assert sorted(m.file for m in manifest) == [
        os.path.join(str(tmp_path), f"part-{p:05d}.txt") for p in pids
    ]
    assert sum(m.n_records for m in manifest) == 3
    assert all(m.n_records > 0 for m in manifest)


def test_n_bytes_is_the_size_on_disk(spark, tmp_path):
    df = spark.range(1000, numPartitions=3)
    manifest = tables.write_shards(df, str(tmp_path), "shard-{}.bin", _line_writer()).collect()
    assert sorted(os.path.basename(m.file) for m in manifest) == [
        "shard-0.bin", "shard-1.bin", "shard-2.bin"
    ]
    for m in manifest:
        assert m.n_bytes == os.path.getsize(m.file) > 0
    assert sum(m.n_bytes for m in manifest) == sum(len(f"{i}\n") for i in range(1000))


def test_exception_in_write_fails_the_action(spark, tmp_path):
    def write(fh, batches):
        for pdf in batches:
            if 7 in set(pdf["id"]):
                raise ValueError("row 7 cannot be encoded")
        return 0

    df = tables.write_shards(spark.range(10, numPartitions=2), str(tmp_path), "p{}", write)
    with pytest.raises(Exception, match="row 7 cannot be encoded"):
        df.collect()


def test_export_shards_refuses_an_empty_export(spark):
    from pasardassist_spark.sources.msgpackio import write_msgpack

    with pytest.raises(ValueError, match="write_msgpack wrote no records"):
        tables.export_shards(write_msgpack, spark.range(0), "pasard_empty_")


def test_export_shards_returns_the_written_directory(spark):
    from pasardassist_spark.sources.msgpackio import read_msgpack, write_msgpack

    df = spark.range(5, numPartitions=2)
    tmp = tables.export_shards(write_msgpack, df, "pasard_export_")
    assert sorted(r.id for r in read_msgpack(spark, tmp, df.schema).collect()) == list(range(5))
