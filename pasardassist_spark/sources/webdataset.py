"""WebDataset (tar-shard) source/sink — the PyTorch-ecosystem layout for
large-scale training corpora (sequential tar shards of per-sample member
files, readable at wire speed without random access).

Reference parity: the reference's export/feed surface treats payloads as
opaque blobs behind URIs (src/modules/utils/utils.service.ts); the
training-data world's equivalent interchange is the WebDataset shard:
``shard-00042.tar`` containing ``{key}.txt``, ``{key}.json``,
``{key}.bin`` members with a sample's members ADJACENT (the format's one
structural invariant — readers group consecutive members by key prefix,
never by seeking).

Scale shape, both directions task-parallel with no driver funnel:

- WRITE: one ``shard-{pid:05d}.tar`` per partition through
  ``tables.write_shards``, members streamed into the file in row order
  with pinned metadata (mtime 0, uid/gid 0) so shard bytes are
  deterministic for a given row order; the returned manifest (file,
  n_records, n_bytes) is the only thing that ever reaches the driver.
- READ: ``binaryFile`` over ``shard-*.tar`` (one task per shard) +
  ``tables.map_rows`` parsing with the stdlib ``tarfile`` module, grouping
  adjacent members into samples.  A sample's unknown-extension members
  are preserved in a map; ``.txt`` decodes as UTF-8, ``.json`` is kept
  raw for the engine's JSON functions, anything else stays binary.

Malformed tars raise ``ValueError``; a shard whose members interleave
two keys non-adjacently raises (the invariant readers rely on).
"""

from __future__ import annotations

import io
import os
import posixpath
import tarfile

from pyspark.sql import DataFrame, SparkSession

from pasardassist_spark.tables import map_rows, read_shards, write_shards

__all__ = ["read_webdataset", "write_webdataset"]


def write_webdataset(
    df: DataFrame,
    path: str,
    key_col: str = "key",
    txt_col: str | None = "txt",
    json_col: str | None = "json",
    bin_col: str | None = "bin",
) -> DataFrame:
    """Write one ``shard-{pid:05d}.tar`` per partition, streaming the
    members into the file; returns the ``tables.write_shards`` manifest
    (file, n_records, n_bytes)."""
    os.makedirs(path, exist_ok=True)
    cols = [key_col] + [c for c in (txt_col, json_col, bin_col) if c]

    def _write(fh, batches) -> int:
        n = 0
        with tarfile.open(fileobj=fh, mode="w") as tf:

            def add(name: str, data: bytes) -> None:
                info = tarfile.TarInfo(name)
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                tf.addfile(info, io.BytesIO(data))

            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    d = row._asdict()
                    key = str(d[key_col])
                    if "." in key:
                        # The reader keys samples at the FIRST dot (dotted
                        # extensions like '.seg.json'), so a dotted key
                        # cannot round-trip — WebDataset forbids them.
                        raise ValueError(
                            f"WebDataset sample key may not contain '.': {key!r}"
                        )
                    if txt_col and d.get(txt_col) is not None:
                        add(f"{key}.txt", str(d[txt_col]).encode("utf-8"))
                    if json_col and d.get(json_col) is not None:
                        add(f"{key}.json", str(d[json_col]).encode("utf-8"))
                    if bin_col and d.get(bin_col) is not None:
                        add(f"{key}.bin", bytes(d[bin_col]))
                    n += 1
        return n

    return write_shards(df.select(*cols), path, "shard-{:05d}.tar", _write)


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """Read ``shard-*.tar`` under ``path`` into samples: (key, txt,
    json, bin) with adjacent members grouped by key prefix.
    ``binaryFile`` hands each task its whole shard as one value: task
    memory is O(shard), and a shard of 2 GiB or more is refused."""
    files = read_shards(spark, path, "shard-*.tar").select("path", "content")

    def _sample(key: str, cur: dict[str, bytes]):
        txt, js = cur.get("txt"), cur.get("json")
        return (
            key,
            txt.decode("utf-8") if txt is not None else None,
            js.decode("utf-8") if js is not None else None,
            cur.get("bin"),
        )

    def _parse(src_path, blob):
        try:
            tf = tarfile.open(fileobj=io.BytesIO(bytes(blob)), mode="r")
        except tarfile.TarError as exc:
            raise ValueError(f"corrupt WebDataset shard {src_path}: {exc}") from exc
        seen: set[str] = set()
        cur_key: str | None = None
        cur: dict[str, bytes] = {}
        with tf:
            for member in tf:
                if not member.isfile():
                    continue
                base = posixpath.basename(member.name)
                # WebDataset keys a sample by everything before the FIRST
                # dot — dotted extensions like '.seg.json' must stay within
                # one sample, so split('.', 1), not rpartition.
                key, dot, ext = base.partition(".")
                if not dot:
                    raise ValueError(f"WebDataset member without extension: {base}")
                if key != cur_key:
                    if key in seen:
                        raise ValueError(
                            f"non-adjacent members for key {key!r} in "
                            f"{src_path} — WebDataset samples must be "
                            "contiguous"
                        )
                    if cur_key is not None:
                        yield _sample(cur_key, cur)
                    seen.add(key)
                    cur_key, cur = key, {}
                data = tf.extractfile(member)
                cur[ext] = data.read() if data is not None else b""
        if cur_key is not None:
            yield _sample(cur_key, cur)

    return map_rows(files, _parse, "key string, txt string, json string, bin binary")
