"""Extended relational + UDF-surface coverage (SURVEY §2.3 completion):
join variants (left/semi/anti), CUBE / GROUPING SETS, lag/lead windows,
non-equi range join, the pandas-UDF surface (applyInPandas per-group
histogram), and the reference's pivoted
pandas-histogram shape (R3/R13) as an oracle-checked query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pyspark_dist_explore_spark.functions.agg import scaled_sum_sql
from pyspark_dist_explore_spark.functions.numeric import bucket_sql
from pyspark_dist_explore_spark.plans.queries import register
from pyspark_dist_explore_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# Join variants
# --------------------------------------------------------------------------


@register(
    "join_variants",
    """
SELECT 'has_urgent' AS tag, CAST(c_custkey AS VARCHAR) AS k, CAST(1 AS BIGINT) AS val
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
UNION ALL
-- NOT EXISTS, not NOT IN: a NULL o_custkey would make NOT IN return zero
-- rows while Spark's left_anti keeps unmatched customers
SELECT 'no_urgent' AS tag, CAST(c_custkey AS VARCHAR) AS k, CAST(1 AS BIGINT) AS val
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
UNION ALL
SELECT 'suppliers' AS tag, n.n_name AS k, count(s.s_suppkey) AS val
FROM nation n LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def q_join_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI + LEFT OUTER joins in one plan.  Every semi /
    anti survivor and every outer-join group is its own hash-checked
    row."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )

    def _branch(join_type: str, tag: str) -> DataFrame:
        return c.join(urgent, c.c_custkey == urgent.o_custkey, join_type).select(
            F.lit(tag).alias("tag"),
            F.col("c_custkey").cast("string").alias("k"),
            F.lit(1).cast("bigint").alias("val"),
        )

    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    outer = (
        n.join(s, s.s_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("val"))
        .select(F.lit("suppliers").alias("tag"), F.col("n_name").alias("k"), "val")
    )
    return _branch("left_semi", "has_urgent").unionAll(
        _branch("left_anti", "no_urgent")
    ).unionAll(outer)


@register(
    "range_join_bands",
    """
WITH bands AS (
  SELECT * FROM (VALUES ('budget', 0.0, 30000.0), ('mid', 30000.0, 70000.0),
                        ('premium', 70000.0, 1000000.0)) b(band, lo, hi)
)
SELECT band, count(*) AS cnt, {sum_sql} AS sum_price
FROM lineitem JOIN bands ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY band
""".format(sum_sql=scaled_sum_sql("l_extendedprice")),
)
def q_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join against a broadcast band table."""
    from pyspark_dist_explore_spark.functions.agg import scaled_sum

    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(
        [("budget", 0.0, 30000.0), ("mid", 30000.0, 70000.0), ("premium", 70000.0, 1000000.0)],
        ["band", "lo", "hi"],
    )
    return (
        li.join(
            F.broadcast(bands),
            (li.l_extendedprice >= bands.lo) & (li.l_extendedprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            scaled_sum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )


# --------------------------------------------------------------------------
# CUBE / GROUPING SETS / lag-lead
# --------------------------------------------------------------------------


@register(
    "salted_skew_join",
    f"""
SELECT l.l_returnflag, count(*) AS cnt, {scaled_sum_sql('l.l_extendedprice')} AS sum_price
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY l.l_returnflag
""",
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join, oracle-checked against the plain join: lineitem's
    supplier key is low-cardinality (10 suppliers for 600k rows — every
    key is hot), the textbook case where one reducer melts.  The salt
    spreads each key across 8 sub-keys; results are identical to the
    unsalted join by construction (operators/joins.salted_join).
    """
    from pyspark_dist_explore_spark.functions.agg import scaled_sum
    from pyspark_dist_explore_spark.operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"), "l_returnflag", "l_extendedprice"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    joined = salted_join(li, s, "s_suppkey", salt_buckets=8)
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        scaled_sum(F.col("l_extendedprice")).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# pandas-UDF surface: applyInPandas
# --------------------------------------------------------------------------

_GH_SCHEMA = StructType(
    [
        StructField("l_returnflag", StringType()),
        StructField("bucket", LongType()),
        StructField("cnt", LongType()),
    ]
)


@register(
    "grouped_hist_pandas",
    f"""
SELECT l_returnflag, {bucket_sql('l_quantity', '1.0', '50.0', 10)} AS bucket, count(*) AS cnt
FROM lineitem
WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity)
  AND l_quantity >= 1.0 AND l_quantity <= 50.0
GROUP BY 1, 2
""",
)
def q_grouped_hist_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group histogram via ``applyInPandas`` (UDTF-like gapply).

    ``np.histogram`` shares the engine's bucket semantics (half-open bins,
    last closed) so the DuckDB oracle is the same bucket CASE — this pins
    the Arrow group-map plumbing end-to-end, counts exactly.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")

    def group_hist(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["l_quantity"].to_numpy(dtype=float)
        v = v[~np.isnan(v)]
        v = v[(v >= 1.0) & (v <= 50.0)]
        counts, _ = np.histogram(v, bins=10, range=(1.0, 50.0))
        nz = np.nonzero(counts)[0]
        return pd.DataFrame(
            {"l_returnflag": key[0], "bucket": nz.astype("int64"), "cnt": counts[nz]}
        )

    return li.groupBy("l_returnflag").applyInPandas(group_hist, schema=_GH_SCHEMA)


# --------------------------------------------------------------------------
# R3/R13: the reference's pivoted pandas-histogram shape
# --------------------------------------------------------------------------


@register(
    "hist_pivot_pandas_shape",
    f"""
WITH vals AS (
  SELECT 'c_acctbal' AS series, CAST(c_acctbal AS DOUBLE) AS v FROM customer
  UNION ALL
  SELECT 's_acctbal' AS series, CAST(s_acctbal AS DOUBLE) AS v FROM supplier
),
valid AS (SELECT series, v FROM vals WHERE v IS NOT NULL AND NOT isnan(v)),
stats AS (SELECT min(v) AS lo, max(v) AS hi FROM valid),
sparse AS (
  SELECT series, {bucket_sql('v', 'lo', 'hi', 8)} AS bucket, count(*) AS cnt
  FROM valid, stats WHERE v >= lo AND v <= hi GROUP BY 1, 2
),
grid AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(8))
SELECT g.bucket,
       COALESCE(max(CASE WHEN series = 'c_acctbal' THEN cnt END), 0) AS c_acctbal,
       COALESCE(max(CASE WHEN series = 's_acctbal' THEN cnt END), 0) AS s_acctbal
FROM grid g LEFT JOIN sparse s ON g.bucket = s.bucket
GROUP BY g.bucket
""",
)
def q_hist_pivot_pandas_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3/R13: ``pandas_histogram`` output shape — one column per series,
    dense bucket index — computed distributed via groupBy().pivot()."""
    from pyspark_dist_explore_spark.operators.histogram import compute_histogram_dense

    sources = [
        ("c_acctbal", load_table(spark, sf_dir, "customer"), "c_acctbal"),
        ("s_acctbal", load_table(spark, sf_dir, "supplier"), "s_acctbal"),
    ]
    dense = compute_histogram_dense(sources, bins=8)
    return (
        dense.groupBy("bucket")
        .pivot("series", ["c_acctbal", "s_acctbal"])
        .sum("cnt")
        .select(
            "bucket",
            F.coalesce("c_acctbal", F.lit(0)).alias("c_acctbal"),
            F.coalesce("s_acctbal", F.lit(0)).alias("s_acctbal"),
        )
    )
