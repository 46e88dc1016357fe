"""Reference-parity edge cases (FIXTURES.md §B, SURVEY §7.4 traps)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pyspark_dist_explore_spark import (
    Histogram,
    compute_density,
    compute_histogram,
    compute_histogram_dense,
    pandas_histogram,
)


def _counts(df, series=None):
    rows = df.collect()
    if series is not None:
        rows = [r for r in rows if r["series"] == series]
    return {r["bucket"]: r["cnt"] for r in rows}


def test_f_basic_last_bucket_closed(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 11)], ["v"])
    out = compute_histogram([("v", df, "v")], bins=5)
    assert _counts(out) == {0: 2, 1: 2, 2: 2, 3: 2, 4: 2}  # 10.0 lands in bin 4


def test_f_nulls_nan_excluded(spark):
    df = spark.createDataFrame(
        [Row(v=1.0), Row(v=None), Row(v=float("nan")), Row(v=4.0)]
    )
    out = compute_histogram([("v", df, "v")], bins=3).collect()
    assert sum(r["cnt"] for r in out) == 2
    # Range derived from valid values only: [1, 4]
    assert min(r["bin_lo"] for r in out) == 1.0
    assert max(r["bin_hi"] for r in out) == 4.0


def test_f_constant_degenerate(spark):
    df = spark.createDataFrame([(7.0,)] * 5, ["v"])
    out = compute_histogram([("v", df, "v")], bins=10).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["bucket"], r["cnt"]) == (0, 5)
    assert (r["bin_lo"], r["bin_hi"]) == (7.0, 7.0)  # RDD semantics: [minv, maxv]


def test_f_negative_values(spark):
    df = spark.createDataFrame([(-10.5,), (-2.0,), (0.0,), (3.5,)], ["v"])
    out = compute_histogram([("v", df, "v")], bins=2)
    # range [-10.5, 3.5], width 7: bin0 [-10.5,-3.5), bin1 [-3.5,3.5]
    assert _counts(out) == {0: 1, 1: 3}


def test_f_int_even_split(spark):
    df = spark.createDataFrame([(i,) for i in range(0, 51)], ["v"])
    out = compute_histogram([("v", df, "v")], bins=2)
    # [0,50] in 2 bins: [0,25) → 25 values, [25,50] → 26 values (rdd.histogram(2))
    assert _counts(out) == {0: 25, 1: 26}


def test_f_range_clip_drops(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 11)], ["v"])
    out = compute_histogram([("v", df, "v")], bins=3, range=(2.0, 5.0))
    assert sum(c for c in _counts(out).values()) == 4  # 2,3,4,5 kept; rest dropped


def test_f_two_frames_shared_binning(spark):
    a = spark.createDataFrame([(float(i),) for i in range(0, 11)], ["a"])
    b = spark.createDataFrame([(float(i),) for i in range(5, 21)], ["b"])
    out = compute_histogram([("a", a, "a"), ("b", b, "b")], bins=4)
    rows = out.collect()
    assert {r["series"] for r in rows} == {"a", "b"}
    # shared range [0, 20], width 5
    assert _counts(out, "a") == {0: 5, 1: 5, 2: 1}
    assert _counts(out, "b") == {1: 5, 2: 5, 3: 6}


def test_f_dup_names_label_dedup(spark):
    df = spark.createDataFrame([(1.0,)], ["x"])
    h = Histogram(bins=2)
    h.add_column(df, "x")
    h.add_column(df, "x")
    assert [lbl for lbl, _, _ in h.series] == ["x", "x (1)"]


def test_f_multicol_split(spark):
    df = spark.createDataFrame([(1.0, 10.0)], ["a", "b"])
    h = Histogram(bins=2)
    h.add_data(df)
    assert [lbl for lbl, _, _ in h.series] == ["a", "b"]


def test_dense_fill_zero_buckets(spark):
    df = spark.createDataFrame([(0.0,), (10.0,)], ["v"])
    out = compute_histogram_dense([("v", df, "v")], bins=5).collect()
    assert len(out) == 5
    counts = {r["bucket"]: r["cnt"] for r in out}
    assert counts == {0: 1, 1: 0, 2: 0, 3: 0, 4: 1}


def test_density_integrates_to_one(spark):
    df = spark.createDataFrame([(float(i),) for i in range(100)], ["v"])
    out = compute_density([("v", df, "v")], bins=10).collect()
    width = out[0]["bin_hi"] - out[0]["bin_lo"]
    total = sum(r["density"] * width for r in out)
    assert math.isclose(total, 1.0, rel_tol=1e-9)


def test_pandas_histogram_shape(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 11)], ["v"])
    pdf = pandas_histogram(df, bins=5)
    assert list(pdf.columns) == ["v"]
    assert len(pdf) == 5
    assert pdf["v"].sum() == 10
    assert pdf.index[0] == "1.00 - 2.80"


def test_temporal_columns_bin_tz_free(spark):
    from datetime import date, datetime

    df = spark.createDataFrame(
        [(date(2024, 1, 1),), (date(2024, 1, 2),), (date(2024, 1, 3),)], "d date"
    )
    out = compute_histogram([("d", df, "d")], bins=2).collect()
    assert sum(r["cnt"] for r in out) == 3
    assert min(r["bin_lo"] for r in out) == 1704067200.0  # 2024-01-01 epoch

    ts = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 0, 0),), (datetime(2024, 1, 1, 12, 0, 0),)],
        "t timestamp_ntz",
    )
    out2 = compute_histogram([("t", ts, "t")], bins=2).collect()
    assert {r["bucket"]: r["cnt"] for r in out2} == {0: 1, 1: 1}


def test_to_pandas_explicit_range_empty_edge_buckets(spark):
    """Explicit range whose extreme buckets are empty: labels must follow
    the RANGE grid, not the occupied buckets (review finding)."""
    df = spark.createDataFrame([(55.0,), (56.0,)], ["v"])
    h = Histogram(bins=10, range=(0.0, 100.0))
    h.add_column(df, "v")
    pdf = h.to_pandas("hist")
    assert pdf.index[0] == "0.00 - 10.00"
    assert pdf.index[5] == "50.00 - 60.00"
    assert pdf["v"].iloc[5] == 2  # both values in the [50,60) bin
    assert pdf["v"].sum() == 2


def test_retired_histogram_oracles_still_green(spark):
    """Two frames sharing one global range (customer and supplier
    acctbal): the sparse compute_histogram result and the dense
    zero-filled compute_histogram_dense grid both hash-match their
    DuckDB renderings.  The density and KDE forms are checked by the
    hist_density_kde slot oracle."""
    from pyspark_dist_explore_spark.plans.queries import _hist_oracle, _hist_sources
    from tests.conftest import SF_SMOKE
    from tests.oracle_utils import compare

    acctbal = [
        ("c_acctbal", "customer", "c_acctbal"),
        ("s_acctbal", "supplier", "s_acctbal"),
    ]
    compare(
        spark,
        SF_SMOKE,
        lambda s, d: compute_histogram(_hist_sources(s, d, acctbal), bins=10).select(
            "series", "bucket", "cnt"
        ),
        _hist_oracle(acctbal, bins=10),
    )
    compare(
        spark,
        SF_SMOKE,
        lambda s, d: compute_histogram_dense(_hist_sources(s, d, acctbal), bins=10),
        _hist_oracle(acctbal, bins=10, dense=True),
    )


def test_compute_ecdf_matches_duckdb(spark):
    """ECDF grid values hash-match a direct per-point count in DuckDB.
    Bucket semantics make grid point x_i = lo + (i+1)·w carry
    count(v < x_i) for interior points (half-open bins) and exactly 1.0
    at the last (closed) point — the twin mirrors that, and the integer
    column (p_size) exercises the on-boundary case that would expose a
    <= / < mix-up."""
    from pyspark_dist_explore_spark.operators.histogram import compute_ecdf
    from tests.conftest import SF_SMOKE
    from tests.oracle_utils import compare

    def build(spark, sf_dir):
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        p = spark.read.parquet(f"{sf_dir}/part.parquet")
        return compute_ecdf(
            [("c_acctbal", c, "c_acctbal"), ("p_size", p, "p_size")], points=16
        )

    def one(series, table, col):
        return f"""
SELECT '{series}' AS series, CAST(g.i AS BIGINT) AS i,
       round(s.lo + (g.i + 1) * (s.hi - s.lo) / 16.0, 10) AS x,
       round(CASE WHEN n.n > 0 THEN (
           SELECT count(*) FROM {table}
           WHERE CAST({col} AS DOUBLE) >= s.lo
             AND (CASE WHEN g.i = 15 THEN CAST({col} AS DOUBLE) <= s.hi
                       ELSE CAST({col} AS DOUBLE) < s.lo + (g.i + 1) * (s.hi - s.lo) / 16.0 END)
       ) * 1.0 / n.n ELSE 0.0 END, 10) AS cdf
FROM (SELECT CAST(range AS BIGINT) AS i FROM range(16)) g,
     shared_stats s,
     (SELECT count(CAST({col} AS DOUBLE)) AS n FROM {table}
      WHERE {col} IS NOT NULL AND NOT isnan(CAST({col} AS DOUBLE))) n
"""

    # the engine shares ONE global [min, max] across every series
    # (reference add_data semantics) — the twin's stats CTE mirrors that
    oracle = """
WITH shared_stats AS (
  SELECT min(v) AS lo, max(v) AS hi FROM (
    SELECT CAST(c_acctbal AS DOUBLE) AS v FROM customer
    UNION ALL SELECT CAST(p_size AS DOUBLE) FROM part
  ) WHERE v IS NOT NULL AND NOT isnan(v)
)
""" + one("c_acctbal", "customer", "c_acctbal") + " UNION ALL " + one(
        "p_size", "part", "p_size"
    )
    compare(spark, SF_SMOKE, build, oracle)


def test_compute_ecdf_properties(spark):
    """Monotone non-decreasing, ends at exactly 1.0, one row per grid
    point per series."""
    from pyspark_dist_explore_spark.operators.histogram import compute_ecdf

    c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    rows = sorted(
        (r.series, r.i, r.cdf)
        for r in compute_ecdf([("acct", c, "c_acctbal")], points=25).collect()
    )
    assert len(rows) == 25
    cdfs = [c3 for _, _, c3 in rows]
    assert all(b >= a for a, b in zip(cdfs, cdfs[1:]))
    assert cdfs[-1] == 1.0


def test_equidepth_histogram_matches_duckdb(spark):
    """Equi-depth bins vs the DuckDB quantile_cont twin: same grid, same
    closed-left bucket sum, same boundaries, same counts."""
    import duckdb

    from pyspark_dist_explore_spark.operators.histogram import (
        compute_equidepth_histogram,
        equidepth_histogram_sql,
    )
    from tests.conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    got = sorted(
        (r["series"], r["bucket"], round(r["bin_lo"], 9), round(r["bin_hi"], 9), r["cnt"])
        for r in compute_equidepth_histogram(
            [("price", li, "l_extendedprice"), ("qty", li, "l_quantity")],
            buckets=8,
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/lineitem.parquet')"
    )
    src = (
        "SELECT 'price' AS series, CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem"
        " WHERE l_extendedprice IS NOT NULL AND NOT isnan(CAST(l_extendedprice AS DOUBLE))"
        " UNION ALL "
        "SELECT 'qty' AS series, CAST(l_quantity AS DOUBLE) AS v FROM lineitem"
        " WHERE l_quantity IS NOT NULL AND NOT isnan(CAST(l_quantity AS DOUBLE))"
    )
    want = sorted(
        (r[0], r[1], round(r[2], 9), round(r[3], 9), r[4])
        for r in con.execute(equidepth_histogram_sql(src, buckets=8)).fetchall()
    )
    assert got == want and len(got) > 0


def test_equidepth_histogram_semantics(spark):
    """Near-equal bucket counts on a spread column; a value exactly ON a
    boundary lands in the LOWER bucket; duplicate-heavy columns collapse
    coincident boundaries into fewer buckets; validation."""
    import pytest as _pytest

    from pyspark_dist_explore_spark.operators.histogram import (
        compute_equidepth_histogram,
    )

    # 1..100 into 4 buckets -> 25 rows each
    df = spark.range(1, 101).selectExpr("cast(id as double) AS x")
    out = {
        r["bucket"]: r["cnt"]
        for r in compute_equidepth_histogram([("x", df, "x")], buckets=4).collect()
    }
    assert out == {0: 25, 1: 25, 2: 25, 3: 25}

    # exact-boundary: 1,2,3,4 buckets=2 -> median 2.5; value 2.5 absent,
    # use 1,2,2,3: median 2.0 -> the 2.0 rows land LOW
    df2 = spark.createDataFrame([(1.0,), (2.0,), (2.0,), (3.0,)], "x double")
    out2 = {
        r["bucket"]: r["cnt"]
        for r in compute_equidepth_histogram([("x", df2, "x")], buckets=2).collect()
    }
    assert out2 == {0: 3, 1: 1}

    # constant column: every boundary coincides -> ONE bucket holds all
    df3 = spark.createDataFrame([(7.0,)] * 10, "x double")
    out3 = compute_equidepth_histogram([("x", df3, "x")], buckets=4).collect()
    assert len(out3) == 1 and out3[0]["cnt"] == 10

    with _pytest.raises(ValueError, match="buckets"):
        compute_equidepth_histogram([("x", df3, "x")], buckets=0)


def test_equidepth_histogram_plan_no_global_sort(spark):
    """One tiny percentile aggregate broadcast back; the corpus is never
    globally ordered (no range partitioning, no TakeOrdered)."""
    from pyspark_dist_explore_spark.operators.histogram import (
        compute_equidepth_histogram,
    )
    from tests.conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    plan = (
        compute_equidepth_histogram([("p", li, "l_extendedprice")], buckets=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" not in plan.lower()
    assert "TakeOrderedAndProject" not in plan
    assert "Broadcast" in plan
