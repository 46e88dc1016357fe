"""The md5 draw rules of ``functions/hashing.py``: both dialects agree
with a hashlib reference, and no other package module restates them."""

from __future__ import annotations

import ast
import hashlib
import io
import pathlib
import tokenize

import duckdb
import pytest
from pyspark.sql import functions as F

from pyspark_dist_explore_spark.functions.hashing import (
    hex_int,
    hex_int_sql,
    salted_md5,
    salted_md5_sql,
)

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "pyspark_dist_explore_spark"
SLICES = [(start, n) for start in (1, 13) for n in (1, 4, 12, 15)]
WORDS = ["", "the", "Quick", "héllo wörld", "123", "x" * 50]


def _ref(s: str, start: int, n: int) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[start - 1 : start - 1 + n], 16)


def test_hex_int_matches_hashlib_in_both_dialects(spark):
    want = [[_ref(w, start, n) for start, n in SLICES] for w in WORDS]
    df = spark.createDataFrame([(i, w) for i, w in enumerate(WORDS)], "i int, w string")
    got = df.select(
        "i", *[hex_int(F.md5("w"), start, n).alias(f"c{j}") for j, (start, n) in enumerate(SLICES)]
    ).orderBy("i")
    assert [list(r)[1:] for r in got.collect()] == want
    assert all(t == "bigint" for _, t in got.dtypes[1:])

    con = duckdb.connect()
    try:
        cols = ", ".join(hex_int_sql("md5(w)", start, n) for start, n in SLICES)
        values = ", ".join(f"({i}, '{w}')" for i, w in enumerate(WORDS))
        rows = con.execute(
            f"SELECT {cols} FROM (VALUES {values}) t(i, w) ORDER BY i"
        ).fetchall()
    finally:
        con.close()
    assert [list(r) for r in rows] == want


@pytest.mark.parametrize("start, n", [(1, 16), (1, 0), (0, 4)])
def test_hex_int_rejects_slices_past_a_signed_bigint(start, n):
    with pytest.raises(ValueError, match="hex digits"):
        hex_int(F.col("h"), start, n)
    with pytest.raises(ValueError, match="hex digits"):
        hex_int_sql("h", start, n)


def test_salted_md5_hashes_a_null_key_as_empty_in_both_dialects(spark):
    want = hashlib.md5(b"s0:").hexdigest()
    df = spark.createDataFrame([(None,), ("",)], "k string")
    got = [r[0] for r in df.select(salted_md5(F.lit("s0"), F.col("k"))).collect()]
    assert got == [want, want]
    con = duckdb.connect()
    try:
        null_key = salted_md5_sql("'s0'", "CAST(NULL AS BIGINT)")
        empty_key = salted_md5_sql("'s0'", "''")
        row = con.execute(f"SELECT {null_key}, {empty_key}").fetchone()
    finally:
        con.close()
    assert list(row) == [want, want]


def _code_only(path: pathlib.Path) -> str:
    """The module source with comments and docstrings blanked out."""
    src = path.read_text()
    lines = src.splitlines(keepends=True)
    blank: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                blank.update(range(body[0].lineno, body[0].end_lineno + 1))
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            row, col = tok.start
            lines[row - 1] = lines[row - 1][:col] + "\n"
    return "".join("\n" if i + 1 in blank else line for i, line in enumerate(lines))


def test_hex_slice_is_declared_only_in_hashing():
    offenders = [
        f"{path.relative_to(PACKAGE)}: {pattern}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "hashing.py"
        for pattern in ("F.conv(", "'0x' ||")
        if pattern in _code_only(path)
    ]
    assert offenders == []
