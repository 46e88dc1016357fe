"""Output checks, run outside every timed region and outside set-up.

Registry slots are compared with their DuckDB oracle in the canonical
row form of the repository's oracle tests.  Parameterized histograms and
ECDFs are compared with DuckDB SQL written here, from the documented
bucket semantics (half-open buckets, the last one closed, NULL/NaN and
out-of-range values dropped).  KDE curves and exact summaries are
compared with a NumPy reference.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np


def duckdb_con(data_dir: str):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def canon(rows, colnames) -> list[tuple]:
    """Order-insensitive row form: columns sorted by name, rows sorted."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm(row[i]) for i in order) for row in rows)


def check_slot(con, oracle: str | None, rows, cols) -> str | None:
    """``None`` when ``rows`` match the slot's oracle (or, for a rows-only
    slot, are non-empty); otherwise what differs."""
    if oracle is None:
        return None if rows else "rows-only slot returned no rows"
    res = con.execute(oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} != oracle {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows != oracle {len(drows)}"
    a, b = canon(rows, cols), canon(drows, dcols)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"value mismatch, first: {diff}"
    return None


# -- parameterized requests ------------------------------------------------------


def _bucket_sql(nbins: int) -> str:
    even = f"LEAST(CAST(floor((v - lo) * {float(nbins)!r} / (hi - lo)) AS BIGINT), {nbins - 1})"
    return f"CASE WHEN hi = lo THEN 0 WHEN v = hi THEN {nbins - 1} ELSE {even} END"


def hist_counts(con, table: str, col: str, bins: int, lo=None, hi=None) -> dict[int, int]:
    """bucket → count, by the documented fixed-width bucket semantics."""
    # DOUBLE literals: a bare 204.14 is a DECIMAL in DuckDB, and hi - lo
    # would then differ from the engine's double subtraction
    stats = (
        f"SELECT CAST({float(lo)!r} AS DOUBLE) AS lo, CAST({float(hi)!r} AS DOUBLE) AS hi"
        if lo is not None
        else "SELECT min(v) AS lo, max(v) AS hi FROM vals"
    )
    sql = f"""
WITH vals AS (SELECT CAST({col} AS DOUBLE) AS v FROM {table}
              WHERE {col} IS NOT NULL AND NOT isnan(CAST({col} AS DOUBLE))),
stats AS ({stats})
SELECT {_bucket_sql(bins)} AS bucket, count(*) FROM vals, stats
WHERE v >= lo AND v <= hi GROUP BY 1"""
    return {int(b): int(c) for b, c in con.execute(sql).fetchall()}


def column_values(con, table: str, col: str) -> np.ndarray:
    v = con.execute(f"SELECT CAST({col} AS DOUBLE) FROM {table}").fetchnumpy()
    arr = next(iter(v.values()))
    arr = np.asarray(arr, dtype=np.float64)
    return arr[~np.isnan(arr)]


def check_hist(con, req, rows) -> str | None:
    want = hist_counts(con, req.table, req.column, req.bins, req.lo, req.hi)
    got = {int(r["bucket"]): int(r["cnt"]) for r in rows}
    return None if got == want else f"histogram counts differ: got {got}, want {want}"


def check_pandas_hist(con, req, pdf) -> str | None:
    want = hist_counts(con, req.table, req.column, req.bins, req.lo, req.hi)
    got = [int(c) for c in pdf.iloc[:, 0].tolist()] if len(pdf.columns) else []
    dense = [want.get(b, 0) for b in range(req.bins)] if want else []
    return None if got == dense else f"pandas histogram differs: got {got}, want {dense}"


def check_ecdf(con, req, rows) -> str | None:
    """The cdf at grid point i is the share of values in buckets 0..i of a
    ``points``-bucket histogram over [min, max]; x is the bucket's upper
    edge."""
    points = req.bins
    counts = hist_counts(con, req.table, req.column, points)
    lo, hi = con.execute(
        f"SELECT min(CAST({req.column} AS DOUBLE)), max(CAST({req.column} AS DOUBLE)) "
        f"FROM {req.table} WHERE NOT isnan(CAST({req.column} AS DOUBLE))"
    ).fetchone()
    n = sum(counts.values())
    cum = np.cumsum([counts.get(i, 0) for i in range(points)])
    got = sorted((int(r["i"]), float(r["x"]), float(r["cdf"])) for r in rows)
    if [g[0] for g in got] != list(range(points)):
        return f"ecdf grid has {len(got)} points, want {points}"
    for i, x, cdf in got:
        wx = lo + (i + 1) * (hi - lo) / float(points)
        if abs(x - wx) > 1e-9 * max(1.0, abs(wx)) or abs(cdf - cum[i] / n) > 1e-9:
            return f"ecdf point {i}: got ({x}, {cdf}), want ({wx}, {cum[i] / n})"
    return None


def kde_reference(values: np.ndarray, num: int, pre_bins: int = 1024) -> np.ndarray:
    """Gaussian KDE over a ``pre_bins`` weighted histogram, Silverman
    bandwidth, evaluated at ``num`` evenly spaced points of [min, max]."""
    lo, hi = float(values.min()), float(values.max())
    if hi == lo:
        b = np.zeros(len(values), dtype=np.int64)
    else:
        b = np.minimum(np.floor((values - lo) * float(pre_bins) / (hi - lo)), pre_bins - 1)
        b[values == hi] = pre_bins - 1
    w = np.bincount(b.astype(np.int64), minlength=pre_bins).astype(np.float64)
    keep = w > 0
    centers = lo + (np.arange(pre_bins)[keep] + 0.5) * ((hi - lo) / float(pre_bins))
    w = w[keep]
    n = w.sum()
    mean = (centers * w).sum() / n
    var = (((centers - mean) ** 2) * w).sum() / n
    h = max(1.06 * math.sqrt(var) * n ** -0.2, 1e-9)
    x = lo + np.arange(num) * ((hi - lo) / float(num - 1))
    u = (x[:, None] - centers[None, :]) / h
    return (np.exp(-0.5 * u * u) / (h * 2.5066282746310002) * w).sum(axis=1) / n


def check_kde(con, req, rows) -> str | None:
    want = kde_reference(column_values(con, req.table, req.column), req.bins)
    got = np.array([float(r["density"]) for r in sorted(rows, key=lambda r: r["i"])])
    if got.shape != want.shape:
        return f"kde has {got.size} points, want {want.size}"
    err = float(np.max(np.abs(got - want)) / max(float(np.max(np.abs(want))), 1e-300))
    return None if err <= 1e-6 else f"kde differs from reference by {err:.3g} (relative)"


def check_describe(con, req, rows) -> str | None:
    v = column_values(con, req.table, req.column)
    if len(rows) != 1:
        return f"describe returned {len(rows)} rows, want 1"
    r = rows[0]
    want = (len(v), float(v.mean()), float(v.std(ddof=1)), float(v.min()), float(v.max()))
    got = (int(r["cnt"]), float(r["mean"]), float(r["stddev"]), float(r["vmin"]), float(r["vmax"]))
    ok = (
        got[0] == want[0]
        and got[3] == want[3]
        and got[4] == want[4]
        and abs(got[1] - want[1]) <= 1e-6 * max(1.0, abs(want[1])) + 1e-6
        and abs(got[2] - want[2]) <= 1e-6 * max(1.0, abs(want[2])) + 1e-6
    )
    return None if ok else f"describe got {got}, want {want}"


CHECKS = {
    "hist": check_hist,
    "pandas_hist": check_pandas_hist,
    "ecdf": check_ecdf,
    "kde": check_kde,
    "describe": check_describe,
}


# -- vector serving ----------------------------------------------------------------


def exact_topk_numpy(corpus: np.ndarray, queries: np.ndarray, k: int) -> list[list[int]]:
    """Cosine top-k ids per query, ties broken by the lower id."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    s = qn @ cn.T
    return [list(np.lexsort((np.arange(len(row)), -row))[:k]) for row in s]
