"""Mirror of the driver's Spark-vs-DuckDB comparison, for local tests.

Registers each testdata parquet as a DuckDB view, runs the oracle SQL,
runs the Spark builder, and compares row count, column names, and an
order-insensitive value representation (columns sorted by name, rows
sorted lexicographically).
"""

from __future__ import annotations

import math

import duckdb

from pyspark_dist_explore_spark.sources.tables import TABLES


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)


def canon(rows, colnames) -> list[tuple]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm(row[i]) for i in order) for row in rows]
    return sorted(out)


def compare(spark, sf_dir: str, build, oracle: str) -> None:
    sdf = build(spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    con = duckdb_con(sf_dir)
    try:
        res = con.execute(oracle)
        duck_cols = [d[0] for d in res.description]
        duck_rows = res.fetchall()
    finally:
        con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    a, b = canon(spark_rows, spark_cols), canon(duck_rows, duck_cols)
    mism = [(x, y) for x, y in zip(a, b) if x != y][:5]
    assert a == b, f"value mismatch, first diffs: {mism}"


def twin_rows(spark, docs, build, oracle) -> tuple[list[tuple], list[tuple]]:
    """Sorted (Spark, DuckDB) rows of one operator over the in-memory
    ``(doc_id, text)`` rows ``docs``: ``build(df)`` runs on Spark and
    ``oracle(src)`` renders the DuckDB query over ``src``, a query
    yielding the same rows."""
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?)", docs)
        want = con.execute(oracle("SELECT doc_id, text FROM docs")).fetchall()
    finally:
        con.close()
    return sorted(map(tuple, build(df).collect())), sorted(map(tuple, want))
