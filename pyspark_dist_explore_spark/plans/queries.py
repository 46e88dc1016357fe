"""Named query registry — the driver contract (``__spark_entry__.py``).

Every implemented operator from SURVEY.md §2 registers here as a
``QuerySpec``: a Spark builder ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) a DuckDB oracle SQL string computing the identical
result.  The driver hash-compares both at sf0.01 (order-insensitive,
columns sorted by name), so:

- every computed column is aliased identically on both sides;
- float arithmetic is written with the same structure/operation order on
  both sides (IEEE-754 doubles ⇒ bit-identical results);
- order-dependent double aggregations (SUM/AVG over doubles) are ROUNDed
  on both sides to absorb partial-aggregation ordering differences;
- bucket expressions come from ``functions/numeric.py`` which renders
  both dialects from one definition.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_dist_explore_spark.functions.numeric import bucket_sql, valid_value_sql
from pyspark_dist_explore_spark.operators.histogram import (
    compute_density,
    compute_histogram,
    compute_kde,
)
from pyspark_dist_explore_spark.sources.tables import load_table


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver does a rows-only check
    #: multi-section slots only: the per-section frames ``build`` composes,
    #: keyed by section tag (bench times each one separately)
    sections: Callable[[SparkSession, str], dict[str, DataFrame]] | None = None


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def register_sections(name: str, oracle: str | None, on: str | None = None):
    """Register a slot from its section builder ``(spark, sf_dir) ->
    {tag: DataFrame}``: the slot frame is the ``unionByName`` of the
    sections in dict order or, with ``on``, their inner join on that
    column in dict order."""

    def deco(fn: Callable[[SparkSession, str], dict[str, DataFrame]]):
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            frames = iter(fn(spark, sf_dir).values())
            out = next(frames)
            for df in frames:
                out = out.unionByName(df) if on is None else out.join(df, on)
            return out

        REGISTRY[name] = QuerySpec(name, build, oracle, fn)
        return fn

    return deco


# --------------------------------------------------------------------------
# Histogram oracle SQL generator — single source of truth with the Spark
# bucket expression (functions/numeric.py).
# --------------------------------------------------------------------------

def _hist_oracle(
    sources: Sequence[tuple[str, str, str]],  # (label, table, column)
    bins: int,
    range: tuple[float, float] | None = None,
    dense: bool = False,
) -> str:
    selects = [
        f"SELECT '{label}' AS series, CAST({col} AS DOUBLE) AS v FROM {table}"
        for label, table, col in sources
    ]
    vals = " UNION ALL ".join(selects)
    if range is not None:
        lo_expr, hi_expr = repr(float(range[0])), repr(float(range[1]))
        stats_cte = f"stats AS (SELECT {lo_expr} AS lo, {hi_expr} AS hi)"
    else:
        stats_cte = "stats AS (SELECT min(v) AS lo, max(v) AS hi FROM vals)"
    bucket = bucket_sql("v", "lo", "hi", bins)
    sparse = f"""
WITH vals AS (
  SELECT series, v FROM ({vals}) WHERE {valid_value_sql('v')}
),
{stats_cte},
sparse AS (
  SELECT series, {bucket} AS bucket, count(*) AS cnt
  FROM vals, stats
  WHERE v >= lo AND v <= hi
  GROUP BY 1, 2
)"""
    if not dense:
        return sparse + "\nSELECT series, bucket, cnt FROM sparse"
    label_values = ", ".join(f"('{label}')" for label, _, _ in sources)
    return sparse + f""",
grid AS (
  SELECT s.series, g.bucket
  FROM (SELECT DISTINCT * FROM (VALUES {label_values}) v(series)) s,
       (SELECT CAST(range AS BIGINT) AS bucket FROM range({bins})) g
)
SELECT grid.series, grid.bucket, COALESCE(sparse.cnt, CAST(0 AS BIGINT)) AS cnt
FROM grid LEFT JOIN sparse USING (series, bucket)"""


def _hist_sources(spark: SparkSession, sf_dir: str, sources: Sequence[tuple[str, str, str]]):
    return [(label, load_table(spark, sf_dir, table), col) for label, table, col in sources]


# --------------------------------------------------------------------------
# R-series: reference parity (SURVEY §2.1)
# --------------------------------------------------------------------------

_FLAGSHIP = [("l_extendedprice", "lineitem", "l_extendedprice")]


@register("hist_lineitem_price", _hist_oracle(_FLAGSHIP, bins=20))
def q_hist_lineitem_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 core: 20-bin fixed-width histogram of lineitem.l_extendedprice."""
    df = compute_histogram(_hist_sources(spark, sf_dir, _FLAGSHIP), bins=20)
    return df.select("series", "bucket", "cnt")


_PSIZE = [("p_size", "part", "p_size")]

_ORDERDATE_HIST_ORACLE = f"""
WITH vals AS (
  SELECT 'o_orderdate' AS series, epoch(o_orderdate) AS v FROM orders
  WHERE {valid_value_sql('epoch(o_orderdate)')}
),
stats AS (SELECT min(v) AS lo, max(v) AS hi FROM vals),
sparse AS (
  SELECT series, {bucket_sql('v', 'lo', 'hi', 12)} AS bucket, count(*) AS cnt
  FROM vals, stats WHERE v >= lo AND v <= hi GROUP BY 1, 2
)
SELECT series, bucket, cnt FROM sparse
"""


@register(
    "hist_mixed_sources",
    "\nUNION ALL\n".join(
        f"SELECT * FROM ({sql})"
        for sql in (
            _hist_oracle(_FLAGSHIP, bins=10, range=(1000.0, 5000.0)),
            _hist_oracle(_PSIZE, bins=5),
            _ORDERDATE_HIST_ORACLE,
        )
    ),
)
def q_hist_mixed_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 + temporal binning, three independent histograms in one result:

    - user-supplied range (out-of-range values DROPPED, not clamped) on
      ``l_extendedprice``;
    - integer column (``p_size``, cast to double, shared bucket expr);
    - timestamp column (``o_orderdate``) — the engine auto-converts
      temporal columns to session-timezone-free epoch seconds
      (operators/histogram._as_numeric), matching DuckDB ``epoch()`` on
      the naive value exactly; a plain cast-to-double would shift with
      the driver's session timezone/DST.

    Each series keeps its own data range (three separate
    ``compute_histogram`` calls, not one shared-range multi-series
    histogram).
    """
    a = compute_histogram(
        _hist_sources(spark, sf_dir, _FLAGSHIP), bins=10, range=(1000.0, 5000.0)
    )
    b = compute_histogram(_hist_sources(spark, sf_dir, _PSIZE), bins=5)
    c = compute_histogram(
        [("o_orderdate", load_table(spark, sf_dir, "orders"), "o_orderdate")], bins=12
    )
    cols = ["series", "bucket", "cnt"]
    return a.select(*cols).unionAll(b.select(*cols)).unionAll(c.select(*cols))


_DENSITY_SRC = [("l_quantity", "lineitem", "l_quantity")]


_HIST_DENSITY_ORACLE = _hist_oracle(_DENSITY_SRC, bins=10).replace(
    "SELECT series, bucket, cnt FROM sparse",
    """SELECT series, bucket, cnt,
       cnt / SUM(cnt) OVER (PARTITION BY series) / ((SELECT (hi - lo) / 10.0 FROM stats)) AS density
FROM sparse""",
)


def _kde_oracle(label: str, table: str, col: str, num: int = 300, pre_bins: int = 1024) -> str:
    """DuckDB rendering of compute_kde, term-for-term (same operation
    order everywhere; the density is rounded to 10 decimals on both sides
    to absorb summation-order ulp drift in the smooth float math)."""
    bucket = bucket_sql("v", "lo", "hi", pre_bins)
    return f"""
WITH vals AS (
  SELECT CAST({col} AS DOUBLE) AS v FROM {table}
  WHERE {valid_value_sql(f'CAST({col} AS DOUBLE)')}
),
stats0 AS (SELECT min(v) AS lo, max(v) AS hi FROM vals),
binned AS (
  SELECT {bucket} AS bucket, count(*) AS w
  FROM vals, stats0 WHERE v >= lo AND v <= hi GROUP BY 1
),
centers AS (
  SELECT lo + (bucket + 0.5) * ((hi - lo) / {float(pre_bins)!r}) AS center, w, lo, hi
  FROM binned, stats0
),
agg AS (
  SELECT sum(w) AS n, sum(center * w) / sum(w) AS mean,
         min(lo) AS lo, min(hi) AS hi
  FROM centers
),
params AS (
  SELECT n, lo, hi,
         greatest(1.06 * sqrt((SELECT sum(((center - mean) * (center - mean)) * w) / sum(w)
                               FROM centers, agg)) * pow(n, -0.2), 1e-9) AS h
  FROM agg
),
grid AS (
  SELECT CAST(t.range AS INT) AS i, n, h,
         lo + t.range * ((hi - lo) / {float(num - 1)!r}) AS x
  FROM params, range({num}) t
)
SELECT '{label}' AS series, i, x,
       round(sum(exp((-0.5 * ((x - center) / h)) * ((x - center) / h))
                 / (h * 2.5066282746310002) * w) / any_value(n), 10) AS density
FROM grid, centers
GROUP BY 1, 2, 3
"""


_HIST_KDE_ORACLE = _kde_oracle("l_extendedprice", "lineitem", "l_extendedprice")


_ECDF_ORACLE = """
WITH ecdf_vals AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND NOT isnan(CAST(l_extendedprice AS DOUBLE))
),
ecdf_stats AS (SELECT min(v) AS lo, max(v) AS hi, count(*) AS n FROM ecdf_vals)
SELECT 'l_extendedprice' AS series, CAST(g.i AS BIGINT) AS i,
       round(s.lo + (g.i + 1) * (s.hi - s.lo) / 50.0, 10) AS x,
       round((SELECT count(*) FROM ecdf_vals
              WHERE v >= s.lo
                AND (CASE WHEN g.i = 49 THEN v <= s.hi
                          ELSE v < s.lo + (g.i + 1) * (s.hi - s.lo) / 50.0 END))
             * 1.0 / s.n, 10) AS cdf
FROM (SELECT CAST(range AS BIGINT) AS i FROM range(50)) g, ecdf_stats s
"""


@register(
    "hist_density_kde",
    f"""
SELECT series, 'hist' AS kind, CAST(bucket AS BIGINT) AS i,
       CAST(NULL AS DOUBLE) AS x, cnt, density
FROM ({_HIST_DENSITY_ORACLE})
UNION ALL
SELECT series, 'kde' AS kind, CAST(i AS BIGINT) AS i, x,
       CAST(NULL AS BIGINT) AS cnt, density
FROM ({_HIST_KDE_ORACLE})
UNION ALL
SELECT series, 'ecdf' AS kind, i, x, CAST(NULL AS BIGINT) AS cnt, cdf AS density
FROM ({_ECDF_ORACLE})
""",
)
def q_hist_density_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10 + R11 in one long-format registration (merged round 5): the
    density-normalized histogram (integrates to 1; exact integer counts
    + one double division, hash-safe unrounded) and the 300-point
    Gaussian KDE curve (every arithmetic term mirrored in the DuckDB
    twin, density rounded to 10 dp on both sides to absorb ulp-level
    summation-order drift).  The two halves keep their own ``series``
    tags, so nothing collides in the union; ``kind`` distinguishes the
    row shapes (hist rows carry cnt, kde rows carry x)."""
    d = compute_density(_hist_sources(spark, sf_dir, _DENSITY_SRC), bins=10).select(
        "series",
        F.lit("hist").alias("kind"),
        F.col("bucket").cast("bigint").alias("i"),
        F.lit(None).cast("double").alias("x"),
        "cnt",
        "density",
    )
    # stage=True (r14 opt): the KDE's pre-binned weighted histogram
    # feeds the bandwidth stats, the variance join and the kernel join
    # — left lazy each consumer re-runs the corpus scan + 1024-bucket
    # aggregate (the before plan shows 24 parquet scans for this slot);
    # staging the ≤1024-row frame scans the column once.  A/B warm
    # min-of-3 at sf0.1 local[32] in OPTIMIZATION_r14.md.
    k = compute_kde(_hist_sources(spark, sf_dir, _FLAGSHIP), num=300, stage=True).select(
        "series",
        F.lit("kde").alias("kind"),
        F.col("i").cast("bigint").alias("i"),
        "x",
        F.lit(None).cast("bigint").alias("cnt"),
        F.round("density", 10).alias("density"),
    )
    from pyspark_dist_explore_spark.operators.histogram import compute_ecdf

    # R16 extension: 50-point ECDF of the same flagship column — the
    # cdf value rides in the shared ``density`` slot (kind='ecdf')
    e = compute_ecdf(_hist_sources(spark, sf_dir, _FLAGSHIP), points=50).select(
        "series",
        F.lit("ecdf").alias("kind"),
        F.col("i").cast("bigint").alias("i"),
        "x",
        F.lit(None).cast("bigint").alias("cnt"),
        F.col("cdf").alias("density"),
    )
    return d.unionAll(k).unionAll(e)


# -- register the extension query families (import side effect) ------------
from pyspark_dist_explore_spark.plans import llm_ops  # noqa: E402,F401
from pyspark_dist_explore_spark.plans import relational  # noqa: E402,F401
from pyspark_dist_explore_spark.plans import streaming_q  # noqa: E402,F401
from pyspark_dist_explore_spark.plans import extended  # noqa: E402,F401

# -- driver-window ordering -------------------------------------------------
# The driver's correctness harness records rows for the FIRST 50 registry
# entries only (CORRECTNESS_r01.json stopped there, leaving 8 oracle-backed
# queries unchecked).  Order oracle-backed queries first so every
# hash-checkable query lands inside the checked window; rows-only
# (non-SQL-expressible) queries follow.  Insertion order is otherwise
# preserved within each class.

DRIVER_CHECK_WINDOW = 50

_ordered = {n: s for n, s in REGISTRY.items() if s.oracle is not None}
_n_oracle = len(_ordered)
if _n_oracle > DRIVER_CHECK_WINDOW:  # pragma: no cover - guarded by tests
    # warn, don't raise: an import-time RuntimeError would make the whole
    # package unimportable; test_registry_within_driver_window enforces it
    import warnings

    warnings.warn(
        f"{_n_oracle} oracle-backed queries exceed the driver's "
        f"{DRIVER_CHECK_WINDOW}-entry correctness window; consolidate before adding more",
        RuntimeWarning,
        stacklevel=2,
    )
_ordered.update({n: s for n, s in REGISTRY.items() if s.oracle is None})
REGISTRY.clear()
REGISTRY.update(_ordered)
del _ordered
