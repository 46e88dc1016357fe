"""Relational coverage queries (SURVEY.md §2.3, M3): joins, windows,
rollup, set ops, top-k, scalar function families, as-of join, JSON,
timestamp binning, windowed event aggregation.

Each query is idiomatic lazy DataFrame code — Catalyst handles pushdown,
pruning and join strategy; small dimensions are explicitly broadcast.
Money aggregates use functions/agg.py scaled-bigint sums so value hashes
match DuckDB exactly at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_dist_explore_spark.functions.agg import (
    scaled_avg,
    scaled_avg_sql,
    scaled_sum,
    scaled_sum_sql,
)
from pyspark_dist_explore_spark.plans.queries import register
from pyspark_dist_explore_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# Aggregation: TPC-H Q1-style pricing summary
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    f"""
SELECT l_returnflag, l_linestatus,
       {scaled_sum_sql('l_quantity')} AS sum_qty,
       {scaled_sum_sql('l_extendedprice')} AS sum_base_price,
       {scaled_sum_sql('l_extendedprice * (1.0 - l_discount)')} AS sum_disc_price,
       {scaled_avg_sql('l_quantity')} AS avg_qty,
       {scaled_avg_sql('l_discount')} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregatable group-by with date filter pushed to the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        # timestamp_ntz literal: comparison is wall-clock, session-tz-free
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            scaled_sum(F.col("l_quantity")).alias("sum_qty"),
            scaled_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            scaled_sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            scaled_avg(F.col("l_quantity")).alias("avg_qty"),
            scaled_avg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Join + group + top-k: TPC-H Q3-style shipping priority
# --------------------------------------------------------------------------


@register(
    "q3_top_orders",
    f"""
WITH top AS (
  SELECT o.o_orderkey,
         {scaled_sum_sql('l.l_extendedprice * (1.0 - l.l_discount)')} AS revenue,
         o.o_orderdate
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
  GROUP BY o.o_orderkey, o.o_orderdate
  ORDER BY revenue DESC, o_orderkey ASC
  LIMIT 10
),
m AS (
  SELECT CAST(date_part('year', o_orderdate) AS INT) AS o_year,
         CAST(date_part('month', o_orderdate) AS INT) AS o_month,
         count(*) AS n_orders_month,
         count(DISTINCT o_custkey) AS n_customers_month
  FROM orders GROUP BY 1, 2
)
SELECT top.o_orderkey, top.revenue, top.o_orderdate,
       m.o_year, m.o_month, m.n_orders_month, m.n_customers_month
FROM top JOIN m
  ON CAST(date_part('year', top.o_orderdate) AS INT) = m.o_year
 AND CAST(date_part('month', top.o_orderdate) AS INT) = m.o_month
""",
)
def q_q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join (customer side broadcast), agg, deterministic top-10,
    enriched with each winning order's calendar-month aggregate from the
    full orders table (year/month extraction + count-distinct) through a
    broadcast join against the ≤ |months|-row stats frame."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    top = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            scaled_sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "revenue", "o_orderdate")
    )
    months = o.groupBy(
        F.year("o_orderdate").alias("o_year"), F.month("o_orderdate").alias("o_month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders_month"),
        F.countDistinct("o_custkey").alias("n_customers_month"),
    )
    return top.join(
        F.broadcast(months),
        (F.year(top.o_orderdate) == months.o_year)
        & (F.month(top.o_orderdate) == months.o_month),
    ).select(
        "o_orderkey", "revenue", "o_orderdate",
        "o_year", "o_month", "n_orders_month", "n_customers_month",
    )


# --------------------------------------------------------------------------
# Multi-join star query: TPC-H Q5-style revenue by nation
# --------------------------------------------------------------------------


@register(
    "q5_nation_revenue",
    f"""
SELECT n.n_name,
       {scaled_sum_sql('l.l_extendedprice * (1.0 - l.l_discount)')} AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE r.r_name = 'AMERICA'
GROUP BY n.n_name
""",
)
def q_q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: dims (region, nation, customer) broadcast, one shuffle
    for the orders⋈lineitem fact join + final agg."""
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dims = F.broadcast(
        c.join(n, c.c_nationkey == n.n_nationkey).join(r, n.n_regionkey == r.r_regionkey)
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(dims, o.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(
            scaled_sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


@register(
    "window_funcs",
    """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(round(o_totalprice * 10000.0) AS BIGINT))
            OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 10000.0
         AS running_total,
       CAST(row_number() OVER w AS INT) AS order_seq,
       CAST(round((o_totalprice - lag(o_totalprice) OVER w) * 100.0) AS BIGINT) AS delta_cents,
       CAST(floor(epoch(lead(o_orderdate) OVER w)) AS BIGINT)
         - CAST(floor(epoch(o_orderdate)) AS BIGINT) AS secs_to_next
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
""",
)
def q_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-function family over ONE per-customer order timeline:
    cumulative spend (framed sum), row_number, lag (price delta), lead
    (seconds to next order).  One window spec → Catalyst evaluates all
    four in a single sort+shuffle pass — merging the former
    ``window_running_total`` / ``window_lag_lead`` pair is cheaper than
    either alone ran twice.  Epochs are session-tz-free day arithmetic.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    scaled = F.round(F.col("o_totalprice") * F.lit(10000.0)).cast("bigint")
    epoch = F.unix_date(F.col("o_orderdate").cast("date")).cast("bigint") * 86400
    epoch_lead = F.unix_date(F.lead("o_orderdate").over(w).cast("date")).cast("bigint") * 86400
    return o.select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(scaled).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double")
            / F.lit(10000.0)
        ).alias("running_total"),
        F.row_number().over(w).alias("order_seq"),
        F.round((F.col("o_totalprice") - F.lag("o_totalprice").over(w)) * 100.0)
        .cast("bigint")
        .alias("delta_cents"),
        (epoch_lead - epoch).alias("secs_to_next"),
    )


@register(
    "topk_per_group",
    """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3
""",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via ranked window (single shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 3)
    )


# --------------------------------------------------------------------------
# Rollup / grouping sets
# --------------------------------------------------------------------------


@register(
    "grouping_analytics",
    f"""
SELECT 'rollup' AS grouping_kind, l_returnflag AS dim1, l_linestatus AS dim2,
       count(*) AS cnt, {scaled_sum_sql('l_quantity')} AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube' AS grouping_kind, l_returnflag AS dim1, l_linestatus AS dim2,
       count(*) AS cnt, {scaled_sum_sql('l_quantity')} AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
UNION ALL
SELECT 'sets' AS grouping_kind, o_orderstatus AS dim1, o_orderpriority AS dim2,
       count(*) AS cnt, CAST(NULL AS DOUBLE) AS sum_qty
FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
""",
)
def q_grouping_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-grouping aggregation surface in one slot: ROLLUP and
    CUBE over lineitem plus explicit GROUPING SETS over orders via the
    SQL surface, schema-aligned ``(grouping_kind, dim1, dim2, cnt,
    sum_qty)`` and unioned.  Each branch is a single expand+aggregate
    pass with map-side partials."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [
        F.count(F.lit(1)).alias("cnt"),
        scaled_sum(F.col("l_quantity")).alias("sum_qty"),
    ]
    rollup = li.rollup("l_returnflag", "l_linestatus").agg(*aggs).select(
        F.lit("rollup").alias("grouping_kind"),
        F.col("l_returnflag").alias("dim1"),
        F.col("l_linestatus").alias("dim2"),
        "cnt",
        "sum_qty",
    )
    cube = li.cube("l_returnflag", "l_linestatus").agg(*aggs).select(
        F.lit("cube").alias("grouping_kind"),
        F.col("l_returnflag").alias("dim1"),
        F.col("l_linestatus").alias("dim2"),
        "cnt",
        "sum_qty",
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_ga")
    sets = spark.sql(
        """
        SELECT 'sets' AS grouping_kind, o_orderstatus AS dim1,
               o_orderpriority AS dim2, count(*) AS cnt,
               CAST(NULL AS DOUBLE) AS sum_qty
        FROM orders_ga GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )
    return rollup.unionByName(cube).unionByName(sets)


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------


@register(
    "set_ops",
    """
SELECT 'intersect' AS op, custkey FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
  INTERSECT
  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000.0
)
UNION ALL
SELECT 'except' AS op, custkey FROM (
  SELECT c_custkey AS custkey FROM customer
  EXCEPT
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
)
""",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT and EXCEPT in one tagged result.

    ``intersect``/``subtract`` ARE SQL set semantics (distinct);
    ``exceptAll().distinct()`` would differ — it keeps left rows that
    merely outnumber their right-side occurrences.
    """
    o = load_table(spark, sf_dir, "orders")
    inter = (
        o.where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("custkey"))
        .intersect(
            o.where(F.col("o_totalprice") > 200000.0).select(
                F.col("o_custkey").alias("custkey")
            )
        )
    )
    exc = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("custkey"))
        .subtract(
            o.where(F.col("o_orderstatus") == "O").select(
                F.col("o_custkey").alias("custkey")
            )
        )
    )
    return inter.select(F.lit("intersect").alias("op"), "custkey").unionAll(
        exc.select(F.lit("except").alias("op"), "custkey")
    )


# --------------------------------------------------------------------------
# As-of join (events → most recent prior order of the same customer)
# --------------------------------------------------------------------------


@register(
    "asof_join_events",
    """
WITH ords AS (
  SELECT o_custkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS order_epoch,
         max(o_orderkey) AS o_orderkey
  FROM orders GROUP BY 1, 2
),
evts AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS event_epoch FROM events
)
SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey, o.order_epoch AS last_order_epoch
FROM evts e
ASOF JOIN ords o ON e.user_id = o.o_custkey AND e.event_epoch >= o.order_epoch
""",
)
def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed Spark-first: union the two timelines, one
    window pass carries the latest order forward — no range cross join,
    one shuffle on the key (how you'd do it on 100 TB; DuckDB's native
    ASOF JOIN is the oracle).

    Times are compared as session-tz-free epoch seconds (events: raw
    nanos div 1e9; orders: days×86400 — all orderdates are midnight).
    Orders are pre-deduped per (custkey, epoch) keeping max orderkey so
    the as-of pick is unique and deterministic on both engines.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("ts_ns div 1000000000").alias("event_epoch"),
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            "o_custkey",
            (F.unix_date(F.col("o_orderdate").cast("date")).cast("bigint") * 86400).alias(
                "order_epoch"
            ),
        )
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    left = e.select(
        F.col("user_id").alias("k"),
        F.col("event_epoch").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("bigint").alias("order_epoch"),
    )
    right = o.select(
        F.col("o_custkey").alias("k"),
        F.col("order_epoch").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("bigint").alias("event_id"),
        "o_orderkey",
        "order_epoch",
    )
    # Order events after orders at identical t (ties: order visible to event).
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t").asc(), F.col("is_event").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = left.unionByName(right).select(
        "is_event",
        "event_id",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("last_orderkey"),
        F.last("order_epoch", ignorenulls=True).over(w).alias("last_order_epoch"),
    )
    return (
        merged.where((F.col("is_event") == 1) & F.col("last_orderkey").isNotNull())
        .join(
            load_table(spark, sf_dir, "events").select("event_id", "user_id"),
            "event_id",
        )
        .select("event_id", "user_id", "last_orderkey", "last_order_epoch")
    )


# --------------------------------------------------------------------------
# Scalar function families
# --------------------------------------------------------------------------


_SCALAR_WIDE_SQL = """
SELECT p_partkey,
       upper(p_brand) AS brand_upper,
       substr(p_name, 1, 8) AS name_prefix,
       concat(p_brand, ':', p_type) AS brand_type,
       CASE WHEN p_size > 25 THEN 'large' ELSE 'small' END AS size_class,
       CAST(len(p_name) AS DOUBLE) AS name_len,
       round(sqrt(CAST(p_size AS DOUBLE)), 6) AS size_sqrt,
       round(ln(p_retailprice), 6) AS price_ln,
       CAST(abs(p_size - 25) AS DOUBLE) AS size_dev,
       CAST(p_size AS DOUBLE) AS p_size,
       CAST(p_retailprice AS DOUBLE) AS p_retailprice
FROM part
"""

_UNPIVOT_METRICS = [
    "name_len",
    "size_sqrt",
    "price_ln",
    "size_dev",
    "p_size",
    "p_retailprice",
]

_SCALAR_IDS = ["p_partkey", "brand_upper", "name_prefix", "brand_type", "size_class"]


@register(
    "scalar_unpivot_part",
    "\nUNION ALL\n".join(
        f"SELECT {', '.join(_SCALAR_IDS)}, '{m}' AS metric, {m} AS value"
        f" FROM ({_SCALAR_WIDE_SQL})"
        for m in _UNPIVOT_METRICS
    ),
)
def q_scalar_unpivot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function families and UNPIVOT over one part scan: the
    string/conditional expressions ride as id columns while the raw and
    computed numeric metrics melt to ``(metric, value)`` long format."""
    p = load_table(spark, sf_dir, "part")
    wide = p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.when(F.col("p_size") > 25, "large").otherwise("small").alias("size_class"),
        F.length("p_name").cast("double").alias("name_len"),
        F.round(F.sqrt(F.col("p_size").cast("double")), 6).alias("size_sqrt"),
        F.round(F.log(F.col("p_retailprice")), 6).alias("price_ln"),
        F.abs(F.col("p_size") - 25).cast("double").alias("size_dev"),
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )
    return wide.unpivot(
        ids=_SCALAR_IDS,
        values=_UNPIVOT_METRICS,
        variableColumnName="metric",
        valueColumnName="value",
    )


# --------------------------------------------------------------------------
# Percentiles, distinct aggregation
# --------------------------------------------------------------------------


#: deregistered round 4 — merged into ``summary_stats``'s long-format
#: result to free a driver-window slot for ``events_interval_join``;
#: still callable, oracle-pinned by tests/test_ops.py
PERCENTILES_ORACLE = """
SELECT l_returnflag,
       round(CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE), 6) AS p25,
       round(CAST(quantile_cont(l_quantity, 0.50) AS DOUBLE), 6) AS p50,
       round(CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE), 6) AS p75
FROM lineitem GROUP BY l_returnflag
"""


def q_percentiles_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (X7 family)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("l_quantity", F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("p75"),
    )


from pyspark_dist_explore_spark.operators.histogram import (  # noqa: E402
    compute_equidepth_histogram,
    equidepth_histogram_sql,
)
from pyspark_dist_explore_spark.operators.stats import (  # noqa: E402
    describe_exact,
    describe_exact_sql,
    histogram_approx,
)

_DESCRIBE_COLS = ["l_quantity", "l_extendedprice", "l_discount"]

_DESCRIBE_STATS = ["cnt", "mean", "stddev", "vmin", "vmax"]

#: X35 gate section: equi-depth buckets over l_quantity.  l_quantity is
#: integer-valued, so every quantile_cont boundary is an exact rational
#: with denominator ``_ED_BUCKETS`` (position = i·(n−1)/buckets) —
#: boundary × buckets is an exact integer, and ``round`` gives a 0.5
#: absolute margin against engine ulp drift (ORACLES.md class B,
#: cross-multiplied).  The raw-double boundary form stays pytest-pinned.
_ED_BUCKETS = 10

_ED_SRC = (
    "SELECT 'l_quantity' AS series, CAST(l_quantity AS DOUBLE) AS v FROM lineitem "
    "WHERE l_quantity IS NOT NULL AND NOT isnan(CAST(l_quantity AS DOUBLE))"
)

_SUMMARY_MERGED_ORACLE = f"""
WITH d AS ({describe_exact_sql("lineitem", _DESCRIBE_COLS)}),
ed AS ({equidepth_histogram_sql(_ED_SRC, buckets=_ED_BUCKETS)})
{" UNION ALL ".join(
    f"SELECT col_name, '{s}' AS stat, CAST({s} AS DOUBLE) AS value FROM d"
    for s in _DESCRIBE_STATS
)}
UNION ALL
{" UNION ALL ".join(
    f"SELECT concat('l_quantity/', l_returnflag) AS col_name, '{p}' AS stat, "
    f"round(CAST(quantile_cont(l_quantity, {q}) AS DOUBLE), 6) AS value "
    f"FROM lineitem GROUP BY l_returnflag"
    for p, q in (("p25", 0.25), ("p50", 0.50), ("p75", 0.75))
)}
UNION ALL
SELECT concat('l_quantity/ed/', CAST(bucket AS VARCHAR)), 'lo_x{_ED_BUCKETS}',
       round(bin_lo * {_ED_BUCKETS}) FROM ed
UNION ALL
SELECT concat('l_quantity/ed/', CAST(bucket AS VARCHAR)), 'hi_x{_ED_BUCKETS}',
       round(bin_hi * {_ED_BUCKETS}) FROM ed
UNION ALL
SELECT concat('l_quantity/ed/', CAST(bucket AS VARCHAR)), 'cnt',
       CAST(cnt AS DOUBLE) FROM ed
"""


@register("summary_stats", _SUMMARY_MERGED_ORACLE)
def q_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 in one long-format result ``(col_name, stat, value)``: exact
    describe (count/mean/stddev/min/max, hash-stable power-sum
    arithmetic — the distributed twin of ``df.describe()``) UNION exact
    per-group interpolated percentiles (keyed ``l_quantity/<flag>``).
    Merged round 4 so both X7 sub-operators stay driver-oracle-checked
    in one registry slot; the wide-shape builders remain the public API
    (``describe_exact`` / ``q_percentiles_quantity``).

    Round 10 merges the X35 EQUI-DEPTH histogram
    (:func:`~pyspark_dist_explore_spark.operators.histogram.
    compute_equidepth_histogram`) as ``l_quantity/ed/<bucket>`` rows:
    the ×``_ED_BUCKETS`` cross-multiplied bucket boundaries plus the
    per-bucket counts — the quantile complement of the fixed-width
    R7/R8 core, now hash-checked at the gate (integer-valued column ⇒
    boundaries are exact rationals with denominator 10)."""
    li = load_table(spark, sf_dir, "lineitem")
    d_long = describe_exact(li, _DESCRIBE_COLS).unpivot(
        ids=["col_name"],
        values=_DESCRIBE_STATS,
        variableColumnName="stat",
        valueColumnName="value",
    )
    p_long = (
        q_percentiles_quantity(spark, sf_dir)
        .unpivot(
            ids=["l_returnflag"],
            values=["p25", "p50", "p75"],
            variableColumnName="stat",
            valueColumnName="value",
        )
        .select(
            F.concat(F.lit("l_quantity/"), F.col("l_returnflag")).alias("col_name"),
            "stat",
            "value",
        )
    )
    ed_long = (
        compute_equidepth_histogram(li, ["l_quantity"], buckets=_ED_BUCKETS)
        .select(
            F.concat(F.lit("l_quantity/ed/"), F.col("bucket").cast("string")).alias(
                "col_name"
            ),
            F.round(F.col("bin_lo") * _ED_BUCKETS).alias(f"lo_x{_ED_BUCKETS}"),
            F.round(F.col("bin_hi") * _ED_BUCKETS).alias(f"hi_x{_ED_BUCKETS}"),
            F.col("cnt").cast("double").alias("cnt"),
        )
        .unpivot(
            ids=["col_name"],
            values=[f"lo_x{_ED_BUCKETS}", f"hi_x{_ED_BUCKETS}", "cnt"],
            variableColumnName="stat",
            valueColumnName="value",
        )
    )
    return d_long.unionAll(p_long).unionAll(ed_long)


#: HLL acceptance band: approx_count_distinct's rsd parameter is the
#: RELATIVE STANDARD DEVIATION of the estimate, not a hard bound — 3σ
#: gives a band the deterministic sketch clears with huge headroom on
#: any fixed dataset (verified at sf0.001/0.01/0.1)
_HLL_RSD = 0.05
_HLL_BAND = 3 * _HLL_RSD
#: percentile_approx(accuracy) guarantees rank error <= 1/accuracy — a
#: HARD deterministic bound (Greenwald-Khanna family), checked exactly
_KLL_ACCURACY = 10000
_APPROX_BINS = 20

_SKETCH_BOUND_ORACLE = """
SELECT 'hll' AS sketch, l_returnflag AS key, 'distinct_parts' AS metric,
       CAST(count(DISTINCT l_partkey) AS DOUBLE) AS value,
       CAST(1 AS INT) AS within_bound
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT 'kll', l_returnflag, 'median_quantity',
       round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 6), CAST(1 AS INT)
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT 'hist_numeric', 'all', 'rows', CAST(count(*) AS DOUBLE), CAST(1 AS INT)
FROM lineitem
UNION ALL
SELECT 'hist_numeric', 'all', 'price_min',
       CAST(min(l_extendedprice) AS DOUBLE), CAST(1 AS INT) FROM lineitem
UNION ALL
SELECT 'hist_numeric', 'all', 'price_max',
       CAST(max(l_extendedprice) AS DOUBLE), CAST(1 AS INT) FROM lineitem
UNION ALL
SELECT 'hist_numeric', 'all', 'n_buckets', 20.0, CAST(1 AS INT)
"""


@register("approx_sketches", _SKETCH_BOUND_ORACLE)
def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 sketches as a bound-check oracle: sketch estimates can never
    hash-match a different engine's sketch, but their published error
    bounds CAN be driver-checked — every hashed ``value`` is an EXACT
    statistic both
    engines compute identically, and ``within_bound`` folds the sketch
    into the hash as a 0/1 verdict the oracle expects to be 1.  If any
    sketch ever lands outside its bound, the Spark side emits 0 and the
    driver's value-hash catches it.

    - ``hll`` rows: value = exact ``count(DISTINCT l_partkey)`` per
      flag; within_bound ⇔ ``approx_count_distinct`` (rsd 0.05) is
      within 3·rsd of it.
    - ``kll`` rows: value = exact interpolated median of l_quantity;
      within_bound ⇔ ``percentile_approx``'s result has exact rank
      within the HARD ``1/accuracy`` Greenwald-Khanna guarantee.
    - ``hist_numeric`` rows: value ∈ {exact row count, exact price
      min/max, the bins parameter}; within_bound ⇔ the sketch's
      weights sum back to the row count, its bucket count is within
      [1, bins], and every data-adaptive center lies inside
      [min, max].

    Two scans of lineitem by design (sketch pass + exact/rank pass —
    verification needs the exact counterpart regardless); all joined
    frames are ≤ groups rows and broadcast.  The sketch join is
    null-safe, so a NULL ``l_returnflag`` forms its own group as in the
    oracle's GROUP BY.  The raw sketch SHAPES stay pytest-pinned
    (test_ops sketch bounds)."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("double")
    eps = 1.0 / _KLL_ACCURACY

    sk = li.groupBy(F.col("l_returnflag").alias("sk_flag")).agg(
        F.approx_count_distinct("l_partkey", _HLL_RSD).alias("approx_parts"),
        F.percentile_approx(
            "l_quantity", F.lit(0.5), F.lit(_KLL_ACCURACY)
        ).cast("double").alias("approx_median"),
    )
    # exact counterpart + the approx median's exact rank in ONE pass
    # (the sketch row is broadcast back onto the scan)
    chk = (
        li.join(F.broadcast(sk), F.col("l_returnflag").eqNullSafe(F.col("sk_flag")))
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("exact_median"),
            F.count(F.lit(1)).alias("n"),
            F.sum((qty < F.col("approx_median")).cast("long")).alias("lt"),
            F.sum((qty <= F.col("approx_median")).cast("long")).alias("le"),
            F.first("approx_parts").alias("approx_parts"),
            # carry the price extrema through this pass so the histogram
            # verify's global (n, min, max) derives from the ≤groups-row
            # chk frame instead of another lineitem scan — sum of
            # per-flag counts / min of mins / max of maxes select the
            # identical values bit for bit
            F.min(F.col("l_extendedprice").cast("double")).alias("p_min_flag"),
            F.max(F.col("l_extendedprice").cast("double")).alias("p_max_flag"),
        )
        # staged: TWO consumers now (the stack leg and the derived
        # global tot) — lazily checkpoint the ≤groups-row frame so the
        # exact/rank pass over lineitem executes once, not per consumer
        .localCheckpoint(eager=False)
    )
    # ONE reference to chk — stack() unpivots both sketch verdicts from
    # the same subtree (separate selects unioned would re-execute the
    # join+agg per leg; the ≤4-scan plan pin holds this)
    group_long = chk.selectExpr(
        "l_returnflag AS key",
        f"""stack(2,
           'hll', 'distinct_parts', CAST(exact_parts AS DOUBLE),
             CAST(abs(approx_parts - exact_parts) <= {_HLL_BAND} * exact_parts AS INT),
           'kll', 'median_quantity', exact_median,
             CAST(lt / n <= 0.5 + {eps} AND le / n >= 0.5 - {eps} AS INT)
        ) AS (sketch, metric, value, within_bound)""",
    ).select("sketch", "key", "metric", "value", "within_bound")
    # histogram_numeric: collapse the sketch to its invariants, check
    # them against the exact scan stats (both frames are 1 row)
    h = histogram_approx(li, "l_extendedprice", bins=_APPROX_BINS)
    hs = h.groupBy().agg(
        F.sum("weight").alias("w_sum"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.min("center").alias("c_min"),
        F.max("center").alias("c_max"),
    )
    # the exact global (n, p_min, p_max) re-aggregates the staged
    # per-flag chk frame: every lineitem row joins its flag's sk row
    # (null-safe, so NULL flags included), so the per-flag rows
    # partition the table and sum/min/max over them select the
    # identical values
    tot = chk.groupBy().agg(
        F.sum("n").alias("n"),
        F.min("p_min_flag").alias("p_min"),
        F.max("p_max_flag").alias("p_max"),
    )
    hchk = hs.crossJoin(F.broadcast(tot))
    # same single-reference stack() move for the four histogram checks
    hist_rows = hchk.selectExpr(
        f"""stack(4,
          'rows', CAST(n AS DOUBLE), CAST(abs(w_sum - n) < 0.5 AS INT),
          'price_min', p_min, CAST(c_min >= p_min AS INT),
          'price_max', p_max, CAST(c_max <= p_max AS INT),
          'n_buckets', CAST({_APPROX_BINS} AS DOUBLE),
            CAST(n_buckets >= 1 AND n_buckets <= {_APPROX_BINS} AS INT)
        ) AS (metric, value, within_bound)""",
    ).select(
        F.lit("hist_numeric").alias("sketch"),
        F.lit("all").alias("key"),
        "metric",
        "value",
        "within_bound",
    )
    return group_long.unionAll(hist_rows)


# --------------------------------------------------------------------------
# Timestamp binning + windowed event aggregation (batch form of X8)
# --------------------------------------------------------------------------


@register(
    "events_window_agg",
    f"""
SELECT CAST(floor(epoch(ts) / 3600.0) AS BIGINT) * 3600 AS window_start,
       event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       count(*) AS n_events,
       {scaled_sum_sql('value')} AS sum_value
FROM events
GROUP BY 1, 2, 3
""",
)
def q_events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch form of the streaming
    histogram — same window expression Structured Streaming uses),
    additionally keyed by a JSON-extracted props field."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            scaled_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("double").cast("bigint").alias("window_start"),
            "event_type",
            "k",
            "n_events",
            "sum_value",
        )
    )
