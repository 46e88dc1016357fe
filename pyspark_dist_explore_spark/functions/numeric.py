"""Canonical bucket-index expression, in both Spark and ANSI-SQL dialects.

The reference's core primitive is fixed-width binning with RDD-histogram
edge semantics (pyspark ``core/rdd.py:2214-2366``): buckets are half-open
``[a, b)`` except the LAST, which is closed ``[a, b]``; NULL/NaN and
out-of-range values are dropped (never clamped).  Those semantics are
encoded ONCE here as structurally identical expressions for Spark
(``Column``) and DuckDB (SQL text), so the engine and the correctness
oracle can never drift (SURVEY.md §7.4.1).

IEEE-754 note: both dialects evaluate ``floor((v - lo) * n / (hi - lo))``
over doubles in the same operation order, so bucket assignment is
bit-identical between engines.  A ``least(..., n-1)`` clamp guards the
``v == hi`` float edge in addition to the explicit equality branch.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def valid_value(v: Column) -> Column:
    """Rows the reference keeps: non-NULL, non-NaN (rdd.py:2275-2282,2350-2351)."""
    return v.isNotNull() & ~F.isnan(v)


def valid_value_sql(v: str) -> str:
    """DuckDB rendering of :func:`valid_value`."""
    return f"{v} IS NOT NULL AND NOT isnan({v})"


def bucket_col(v: Column, lo: Column, hi: Column, nbins: int) -> Column:
    """Bucket index in ``[0, nbins)`` with last-bucket-closed semantics.

    Callers must pre-filter with :func:`valid_value` and the in-range
    predicate ``(v >= lo) & (v <= hi)``; this expression only assigns.
    The degenerate ``lo == hi`` range (constant column, RDD semantics per
    SURVEY §5.2: single bucket ``[minv, maxv]``) maps everything to 0.
    """
    even = F.least(
        F.floor((v - lo) * F.lit(float(nbins)) / (hi - lo)),
        F.lit(nbins - 1).cast("bigint"),
    )
    return (
        F.when(hi == lo, F.lit(0).cast("bigint"))
        .when(v == hi, F.lit(nbins - 1).cast("bigint"))
        .otherwise(even)
    )


def bucket_sql(v: str, lo: str, hi: str, nbins: int) -> str:
    """DuckDB rendering of :func:`bucket_col` — identical arithmetic/order."""
    even = (
        f"LEAST(CAST(floor(({v} - {lo}) * {float(nbins)!r} / ({hi} - {lo})) AS BIGINT), "
        f"CAST({nbins - 1} AS BIGINT))"
    )
    return (
        f"CASE WHEN {hi} = {lo} THEN CAST(0 AS BIGINT) "
        f"WHEN {v} = {hi} THEN CAST({nbins - 1} AS BIGINT) "
        f"ELSE {even} END"
    )


def in_range(v: Column, lo: Column, hi: Column) -> Column:
    """Out-of-range values are dropped, not clamped (rdd.py:2352-2360)."""
    return (v >= lo) & (v <= hi)

