"""``tables.map_rows``: the one per-row Python stage.

Pins (a) that no other function under ``pasardassist_spark/`` hand-writes
the per-row loop (a batch loop — ``for ... in it:``, or a loop over any
parameter of a function handed to ``mapInPandas`` — with a row loop that
calls ``append`` or ``extend``),
and (b) the helper's contract: zero, one or many output rows per input
row, empty partitions, nulls, binary and array columns, and an exception
in ``fn`` failing the action.
"""

from __future__ import annotations

import ast
import os

import pytest

from pasardassist_spark.tables import map_rows

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pasardassist_spark"
)


def _is_batch_loop(node: ast.AST, params: set[str]) -> bool:
    """A loop over ``it``, or over a parameter of a function handed to
    ``mapInPandas`` that yields per batch (a fold that yields once after
    its loop is not a per-row stage)."""
    if not (
        isinstance(node, ast.For)
        and isinstance(node.target, ast.Name)
        and isinstance(node.iter, ast.Name)
    ):
        return False
    return node.iter.id == "it" or (
        node.iter.id in params
        and any(isinstance(n, (ast.Yield, ast.YieldFrom)) for n in ast.walk(node))
    )


def _map_in_pandas_fns(tree: ast.AST) -> set[str]:
    """Names of the functions a module hands to ``mapInPandas``."""
    names = set()
    for call in ast.walk(tree):
        if (
            isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and call.func.attr == "mapInPandas"
        ):
            args = call.args[:1] + [k.value for k in call.keywords if k.arg == "func"]
            names.update(a.id for a in args if isinstance(a, ast.Name))
    return names


def _appends_per_row(loop: ast.For) -> bool:
    """A row loop nested in the batch loop that appends to or extends
    lists."""
    for inner in ast.walk(loop):
        if inner is loop or not isinstance(inner, ast.For):
            continue
        for call in ast.walk(inner):
            if (
                isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and call.func.attr in ("append", "extend")
            ):
                return True
    return False


def _hand_written_row_loops(root: str) -> list[str]:
    found = []
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            helper = {
                id(n)
                for fn in ast.walk(tree)
                if isinstance(fn, ast.FunctionDef) and fn.name == "map_rows"
                and path == os.path.join(PKG, "tables.py")
                for n in ast.walk(fn)
            }
            handed = _map_in_pandas_fns(tree)
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                if id(fn) in helper:
                    continue
                params = {a.arg for a in fn.args.args} if fn.name in handed else set()
                # only loops owned by this function, not by a nested def
                stack = list(ast.iter_child_nodes(fn))
                while stack:
                    node = stack.pop()
                    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                        continue
                    if _is_batch_loop(node, params) and _appends_per_row(node):
                        found.append(f"{os.path.relpath(path, root)}:{node.lineno} {fn.name}")
                    stack.extend(ast.iter_child_nodes(node))
    return found


def test_no_hand_written_row_loops_outside_map_rows():
    offenders = _hand_written_row_loops(PKG)
    assert not offenders, f"run per-row Python work through tables.map_rows: {offenders}"


def test_scan_flags_a_hand_written_loop(tmp_path):
    (tmp_path / "stage.py").write_text(
        "def stage(df):\n"
        "    def _batches(it):\n"
        "        for pdf in it:\n"
        "            out = {'a': []}\n"
        "            for a in pdf['a']:\n"
        "                out['a'].append(a)\n"
        "            yield out\n"
        "    return _batches\n"
    )
    (tmp_path / "reader.py").write_text(
        "def reader(df):\n"
        "    def _parse(it):\n"
        "        for batch in it:\n"
        "            rows = []\n"
        "            for blob in batch['content']:\n"
        "                rows.extend(decode(blob))\n"
        "            yield rows\n"
        "    return _parse\n"
    )
    (tmp_path / "udf.py").write_text(
        "def udf(df):\n"
        "    def run(batches):\n"
        "        for b in batches:\n"
        "            rows = []\n"
        "            for x in b['x']:\n"
        "                rows.append(x)\n"
        "            yield rows\n"
        "    def fold(batches):\n"
        "        seen = []\n"
        "        for b in batches:\n"
        "            for x in b['x']:\n"
        "                seen.append(x)\n"
        "        yield seen\n"
        "    def helper(batches):\n"
        "        for b in batches:\n"
        "            for x in b['x']:\n"
        "                b.append(x)\n"
        "            yield b\n"
        "    df.mapInPandas(fold, 'x long')\n"
        "    return df.mapInPandas(func=run, schema='x long')\n"
    )
    assert _hand_written_row_loops(str(tmp_path)) == [
        "reader.py:3 _parse",
        "stage.py:3 _batches",
        "udf.py:3 run",
    ]


def _collect(df):
    return sorted(tuple(r) for r in df.collect())


def test_zero_one_and_many_outputs_per_row(spark):
    def fn(i):
        for j in range(i % 4):
            yield i, j

    got = _collect(map_rows(spark.range(12, numPartitions=3), fn, "i long, j int"))
    assert got == sorted((i, j) for i in range(12) for j in range(i % 4))


def test_values_arrive_in_column_order(spark):
    df = spark.range(5).selectExpr("cast(id as string) s", "id * 10 as x", "id")
    got = _collect(map_rows(df, lambda s, x, i: [(f"{s}:{x}", i)], "k string, i long"))
    assert got == [(f"{i}:{i * 10}", i) for i in range(5)]


def test_empty_partitions_and_empty_batches(spark):
    schema = "i long, b binary, a array<int>"
    # more partitions than rows leaves most partitions empty
    sparse = spark.range(3).repartition(8)
    got = _collect(map_rows(sparse, lambda i: [(i, b"x", [i])], schema))
    assert got == [(i, bytearray(b"x"), [i]) for i in range(3)]
    # batches whose rows all yield nothing
    assert map_rows(spark.range(50, numPartitions=4), lambda i: (), schema).count() == 0
    assert map_rows(spark.range(0), lambda i: [(i, b"", [])], schema).count() == 0


def test_nulls_in_and_out(spark):
    df = spark.range(4).selectExpr("id", "if(id % 2 = 0, null, concat('s', id)) s")

    def fn(i, s):
        yield i, s, None if s is None else len(s), None if i == 3 else i / 2

    got = _collect(map_rows(df, fn, "i long, s string, n int, d double"))
    assert got == [
        (0, None, None, 0.0),
        (1, "s1", 2, 0.5),
        (2, None, None, 1.0),
        (3, "s3", 2, None),
    ]


def test_binary_and_array_columns(spark):
    def fn(i):
        yield (
            i,
            bytes(range(i)),
            [float(j) / 4 for j in range(i)],
            [f"w{j}" for j in range(i)] if i else None,
        )

    df = map_rows(
        spark.range(4), fn, "i long, b binary, d array<double>, w array<string>"
    )
    assert dict(df.dtypes) == {
        "i": "bigint", "b": "binary", "d": "array<double>", "w": "array<string>"
    }
    got = {r.i: r for r in df.collect()}
    for i in range(4):
        assert bytes(got[i].b) == bytes(range(i))
        assert got[i].d == [float(j) / 4 for j in range(i)]
        assert got[i].w == ([f"w{j}" for j in range(i)] if i else None)


def test_exception_in_fn_fails_the_action(spark):
    def fn(i):
        if i == 7:
            raise ValueError("doc 7: wrote 3 parts, extracted 2")
        yield (i,)

    df = map_rows(spark.range(10, numPartitions=2), fn, "i long")
    with pytest.raises(Exception, match="doc 7: wrote 3 parts, extracted 2"):
        df.collect()
