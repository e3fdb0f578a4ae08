"""WebDataset tar-shard source/sink: roundtrip, adjacency invariant,
member typing, and error contracts."""

from __future__ import annotations

import io
import os
import tarfile

import pytest


def _tar(members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def test_webdataset_roundtrip_all_member_kinds(spark, tmp_path):
    import pandas as pd

    from pasardassist_spark.sources.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "key": [f"{i:05d}" for i in range(20)],
                "txt": [f"text {i} with unicodé ✓" for i in range(20)],
                "json": [f'{{"n": {i}}}' for i in range(20)],
                "bin": [bytes([i, 255 - i, 7]) for i in range(20)],
            }
        )
    ).repartition(3, "key")
    manifest = write_webdataset(df, str(tmp_path)).collect()
    assert sum(m.n_records for m in manifest) == 20
    assert all(os.path.basename(m.file).startswith("shard-") for m in manifest)
    back = {
        r.key: r
        for r in read_webdataset(spark, str(tmp_path)).collect()
    }
    assert len(back) == 20
    for i in range(20):
        r = back[f"{i:05d}"]
        assert r.txt == f"text {i} with unicodé ✓"
        assert r.json == f'{{"n": {i}}}'
        assert bytes(r.bin) == bytes([i, 255 - i, 7])


def test_webdataset_missing_members_are_null(spark, tmp_path):
    from pasardassist_spark.sources.webdataset import read_webdataset

    shard = _tar([("a.txt", b"only text"), ("b.bin", b"\x01\x02")])
    (tmp_path / "shard-00000.tar").write_bytes(shard)
    rows = {r.key: r for r in read_webdataset(spark, str(tmp_path)).collect()}
    assert rows["a"].txt == "only text" and rows["a"].bin is None
    assert rows["b"].txt is None and bytes(rows["b"].bin) == b"\x01\x02"


def test_webdataset_dotted_extensions_stay_in_one_sample(spark, tmp_path):
    """WebDataset keys a sample at the FIRST dot — '.seg.json' style
    extensions must not fragment a sample (or trip the adjacency check)."""
    from pasardassist_spark.sources.webdataset import read_webdataset

    shard = _tar([
        ("a.txt", b"text a"), ("a.seg.json", b'{"seg": 1}'), ("a.bin", b"\x01"),
        ("b.txt", b"text b"), ("b.seg.json", b'{"seg": 2}'),
    ])
    (tmp_path / "shard-00000.tar").write_bytes(shard)
    rows = {r.key: r for r in read_webdataset(spark, str(tmp_path)).collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"].txt == "text a" and bytes(rows["a"].bin) == b"\x01"
    # '.seg.json' is a distinct member kind, not the '.json' slot
    assert rows["a"].json is None and rows["b"].json is None


def test_webdataset_writer_rejects_dotted_keys(spark, tmp_path):
    """Dotted keys cannot round-trip under first-dot keying; the sink
    refuses them up front."""
    import pandas as pd

    from pasardassist_spark.sources.webdataset import write_webdataset

    df = spark.createDataFrame(
        pd.DataFrame({"key": ["bad.key"], "txt": ["x"],
                      "json": ["{}"], "bin": [b"\x00"]})
    )
    with pytest.raises(Exception, match="may not contain"):
        write_webdataset(df, str(tmp_path)).collect()


def test_webdataset_adjacency_violation_raises(spark, tmp_path):
    from pasardassist_spark.sources.webdataset import read_webdataset

    shard = _tar([
        ("a.txt", b"x"), ("b.txt", b"y"), ("a.json", b"{}"),  # a split by b
    ])
    (tmp_path / "shard-00000.tar").write_bytes(shard)
    with pytest.raises(Exception, match="non-adjacent"):
        read_webdataset(spark, str(tmp_path)).collect()


def test_webdataset_corrupt_shard_raises(spark, tmp_path):
    from pasardassist_spark.sources.webdataset import read_webdataset

    (tmp_path / "shard-00000.tar").write_bytes(b"not a tar at all" * 100)
    with pytest.raises(Exception, match="corrupt WebDataset shard"):
        read_webdataset(spark, str(tmp_path)).collect()


def test_webdataset_extensionless_member_raises(spark, tmp_path):
    from pasardassist_spark.sources.webdataset import read_webdataset

    (tmp_path / "shard-00000.tar").write_bytes(_tar([("noext", b"x")]))
    with pytest.raises(Exception, match="without extension"):
        read_webdataset(spark, str(tmp_path)).collect()


def test_webdataset_shard_bytes_deterministic(tmp_path):
    """Pinned tar metadata (mtime 0, uid/gid 0) makes shard bytes a pure
    function of the rows — re-export produces identical files."""
    from pasardassist_spark.sources.webdataset import write_webdataset
    from pasardassist_spark import get_spark

    spark = get_spark("pasardassist-tests")
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {"key": ["k1", "k2"], "txt": ["a", "b"],
             "json": ['{"x":1}', '{"x":2}'], "bin": [b"\x00", b"\x01"]}
        )
    ).coalesce(1)
    d1, d2 = tmp_path / "one", tmp_path / "two"
    write_webdataset(df, str(d1)).collect()
    write_webdataset(df, str(d2)).collect()
    f1 = sorted(os.listdir(d1))[0]
    assert (d1 / f1).read_bytes() == (d2 / f1).read_bytes()
