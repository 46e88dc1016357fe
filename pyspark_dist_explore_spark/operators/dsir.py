"""DSIR — Data Selection via Importance Resampling (SURVEY.md §2.2 X30).

Xie et al. 2023 (arXiv:2302.03169): select raw-corpus documents whose
hashed n-gram feature distribution looks like a TARGET corpus (the
"make my crawl look like wiki+books" recipe behind many production
pretraining mixtures).  Construction, exactly the paper's:

1. features: word unigrams + bigrams hashed into ``n_buckets`` —
   the classifier gate's bucket chain
   (:func:`~pyspark_dist_explore_spark.operators.textstats._cls_bucket_expr`)
   reused verbatim, so the md5 variant is DuckDB-reproducible;
2. a bag-of-buckets model per corpus: bucket count tables (≤ B rows
   each, one map-side-combined aggregate per corpus);
3. per-document importance weight
   ``log w(x) = Σ_g [log p̂_target(b_g) − log p̂_raw(b_g)]`` with
   Laplace smoothing ``p̂(b) = (cnt_b + α) / (N + α·B)``;
4. selection: top-``n`` by weight (deterministic rank; the paper
   adds Gumbel noise for a soft sample — a salted-hash perturbation
   slot is left to the caller via the score frame).

Determinism: per-BUCKET log-ratios are scaled to 1e-6 fixed point
(BIGINT) before the per-doc sum — the float sum would be
partial-aggregation-order-dependent; the integer sum is exact at any
parallelism (the perplexity scorers' technique,
``textstats.unigram_logprob_scores``).  The driver-gate oracle hashes
only the PURE-INTEGER count statistics (``count_stats=True``):
``ln`` last-ulp behavior varies across libm/DuckDB builds (the round-6
`text_perplexity` lesson, ORACLES.md class C), while the count columns
pin tokenization, hashing, and both corpus count tables bit-for-bit on
any engine.  Exact double weights + the top-n selection are pinned in
the pytest DuckDB twins where the engine pair is controlled.

Scale shape (100 TB): gram explode → TWO ≤B-row count aggregates
(map-side partials; B ~ 2¹²–2²⁰ — driver-trivial, broadcast) → the
raw-corpus gram stream joins both broadcast tables and collapses to
per-doc rows with one partial-aggregated groupBy — ONE corpus-sized
shuffle of per-doc partial rows, no sort; selection is
``TakeOrderedAndProject`` (per-partition heaps) for head-sized keeps
and the :func:`topk_by_rank` range-partition rank (no driver funnel)
for production-sized ones.
The target corpus is by definition small (a quality sample); the raw
corpus is scanned once (twice when it must also train the raw counts —
pass ``raw_counts=`` from a previous materialization to make it once).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark_dist_explore_spark.operators.dedup import word_tokens_sql
from pyspark_dist_explore_spark.operators.textstats import (
    _cls_bucket_expr,
    _cls_bucket_sql,
    _cls_gram_col,
    _cls_grams_sql,
)


def dsir_gram_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    bigrams: bool = True,
) -> DataFrame:
    """``(doc_id, gram)`` — one row per word uni(+bi)gram occurrence of
    the normalized token stream.  Row-local build (array transform, no
    window shuffle) then a plain explode; docs with zero grams emit no
    rows (explode of an empty array)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_cls_gram_col(F.col(text_col), bigrams=bigrams)).alias("gram"),
    )


def dsir_bucket_counts(
    gram_rows: DataFrame,
    *,
    n_buckets: int = 1 << 12,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Hashed-gram bag-of-buckets model of one corpus: ``(bucket, cnt)``,
    ≤ ``n_buckets`` rows however large the corpus (ONE map-side-combined
    aggregate).  ``hash_fn='md5'`` is the DuckDB-reproducible chain."""
    return (
        gram_rows.select(
            _cls_bucket_expr(
                F.col("gram"), n_buckets=n_buckets, hash_fn=hash_fn
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def _log_e6(cnt: Column, total: Column, alpha: float, n_buckets: int) -> Column:
    """``round(1e6 · ln((cnt + α) / (N + α·B)))`` as BIGINT — the exact
    fixed-point grid both the Spark sum and the pytest twin share."""
    p = (F.coalesce(cnt, F.lit(0)).cast("double") + F.lit(alpha)) / (
        total.cast("double") + F.lit(alpha) * F.lit(float(n_buckets))
    )
    return F.round(F.log(p) * F.lit(1e6)).cast("bigint")


def dsir_scores(
    raw: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    target: DataFrame | None = None,
    n_buckets: int = 1 << 12,
    alpha: float = 1.0,
    bigrams: bool = True,
    hash_fn: str = "xxhash64",
    count_stats: bool = False,
    gram_rows: DataFrame | None = None,
    target_gram_rows: DataFrame | None = None,
    raw_counts: DataFrame | None = None,
    target_counts: DataFrame | None = None,
) -> DataFrame:
    """Per-document DSIR importance weights of the RAW corpus against a
    TARGET corpus: ``(doc_id, n_ds_grams, ds_logw_e6, ds_logw)`` where
    ``ds_logw = Σ_g [ln p̂_t(b_g) − ln p̂_r(b_g)]`` (1e-6 fixed-point
    exact; ``ds_logw_e6`` is the BIGINT grid value, ``ds_logw`` the
    double view).  Docs with zero grams emit no rows — a doc with no
    features has no importance weight (select on them upstream).

    ``gram_rows=`` / ``target_gram_rows=`` are staged ``(doc_id, gram)``
    inputs (the ``tf_rows=`` pattern) for callers who already
    materialized the gram stream — e.g. the registered query shares the
    perplexity scorers' checkpointed token+pair frame.  ``raw_counts=``
    / ``target_counts=`` short-circuit the corpus count aggregates
    (e.g. a landed model from a previous build).

    ``count_stats=True`` appends PURE-INTEGER columns to the same
    per-doc aggregate (no extra scan): ``ds_t_mass`` (Σ target bucket
    counts the scoring join looked up), ``ds_t_hits`` (grams whose
    bucket exists in the target table), ``ds_r_mass`` (Σ raw bucket
    counts) — the class-A driver-gate projection.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0 (Laplace smoothing mass), got {alpha}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if gram_rows is None:
        if raw is None:
            raise ValueError("need raw= frame or staged gram_rows=")
        gram_rows = dsir_gram_rows(raw, text_col, id_col, bigrams=bigrams)
    if target_counts is None:
        if target_gram_rows is None:
            if target is None:
                raise ValueError(
                    "need target= frame, target_gram_rows=, or target_counts="
                )
            target_gram_rows = dsir_gram_rows(
                target, text_col, id_col, bigrams=bigrams
            )
        target_counts = dsir_bucket_counts(
            target_gram_rows, n_buckets=n_buckets, hash_fn=hash_fn
        )
    if raw_counts is None:
        raw_counts = dsir_bucket_counts(
            gram_rows, n_buckets=n_buckets, hash_fn=hash_fn
        )
    t_tot = target_counts.groupBy().agg(F.sum("cnt").alias("__nt"))
    r_tot = raw_counts.groupBy().agg(F.sum("cnt").alias("__nr"))
    lam = _log_e6(F.col("__tcnt"), F.col("__nt"), alpha, n_buckets) - _log_e6(
        F.col("__rcnt"), F.col("__nr"), alpha, n_buckets
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_ds_grams"),
        F.sum(F.col("__lam")).cast("bigint").alias("ds_logw_e6"),
    ]
    if count_stats:
        aggs += [
            F.sum(F.coalesce(F.col("__tcnt"), F.lit(0))).cast("bigint").alias("ds_t_mass"),
            F.sum(F.when(F.col("__tcnt").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("ds_t_hits"),
            F.sum(F.coalesce(F.col("__rcnt"), F.lit(0))).cast("bigint").alias("ds_r_mass"),
        ]
    bucket = _cls_bucket_expr(F.col("gram"), n_buckets=n_buckets, hash_fn=hash_fn)
    scored = (
        gram_rows.select("doc_id", bucket.alias("bucket"))
        .join(
            F.broadcast(
                target_counts.select("bucket", F.col("cnt").alias("__tcnt"))
            ),
            "bucket",
            "left",
        )
        .join(
            F.broadcast(raw_counts.select("bucket", F.col("cnt").alias("__rcnt"))),
            "bucket",
            "left",
        )
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select("doc_id", "__tcnt", "__rcnt", lam.alias("__lam"))
        .groupBy("doc_id")
        .agg(*aggs)
    )
    cols = [
        F.col("doc_id"),
        F.col("n_ds_grams"),
        F.col("ds_logw_e6"),
        (F.col("ds_logw_e6").cast("double") / F.lit(1e6)).alias("ds_logw"),
    ]
    if count_stats:
        cols += [F.col("ds_t_mass"), F.col("ds_t_hits"), F.col("ds_r_mass")]
    return scored.select(*cols)


#: above this n_keep, :func:`dsir_topk` switches to the distributed
#: rank path — TakeOrderedAndProject funnels the result through the
#: driver, which is the right plan for heads but not for the
#: millions-of-docs selections DSIR runs in production
DSIR_TOPK_DRIVER_MAX = 100_000


def dsir_topk(scored: DataFrame, n_keep: int) -> DataFrame:
    """The resampling step, deterministic form: keep the ``n_keep``
    highest-weight docs (ties broken on doc_id — a total order, so the
    selection is a pure function of the corpora, independent of
    partitioning).  Two plans behind one contract:

    - ``n_keep ≤ DSIR_TOPK_DRIVER_MAX``: ``orderBy + limit`` plans as
      ``TakeOrderedAndProject`` — per-partition heaps, a driver merge
      of ≤ n_keep rows.  Right for head-sized selections.
    - larger ``n_keep``: :func:`topk_by_rank` — range-partition on the
      selection order, per-partition offsets from a ≤ P-row count
      collect, keep global-rank < n_keep.  The result set never
      funnels through the driver, so production-scale selections
      (millions of docs out of 100 TB) stay executor-side.

    The paper's Gumbel-noise soft sample is the same top-k over
    ``ds_logw + g_i`` — add a salted perturbation column to the score
    frame and rank on that to get it."""
    if n_keep < 1:
        raise ValueError(f"n_keep must be >= 1, got {n_keep}")
    if n_keep <= DSIR_TOPK_DRIVER_MAX:
        return scored.orderBy(
            F.col("ds_logw_e6").desc(), F.col("doc_id").asc()
        ).limit(n_keep)
    return topk_by_rank(
        scored, n_keep, [F.col("ds_logw_e6").desc(), F.col("doc_id").asc()]
    )


def topk_by_rank(df: DataFrame, n_keep: int, order: list[Column]) -> DataFrame:
    """Exact distributed top-``n_keep`` under a TOTAL order without a
    driver funnel: range-partition the frame on the order columns, count
    rows per partition (ONE ≤ P-row collect — partition metadata, never
    data), turn the counts into cumulative offsets, and keep rows whose
    ``offset + local_rank ≤ n_keep``.  Partitions entirely inside the
    keep region pass their rows through with only a local sort; only
    the single boundary partition ranks against a cutoff.  The kept SET
    is a pure function of the data (total order ⇒ partition boundaries
    cannot change membership).  One range-exchange — the same shuffle a
    global sort pays — and the output stays distributed, which is the
    difference from ``TakeOrderedAndProject`` at production ``n_keep``.

    The range exchange is pinned with ``localCheckpoint(eager=False)``:
    RangePartitioner samples split boundaries with a seed derived from
    the RDD id, so re-executing the exchange in a second job can place
    rows in DIFFERENT partitions than the ones the offset table was
    counted from — silently wrong top-k (row counts off by ±5% at
    n_keep=150k over 400k rows when left unpinned).  Checkpointing makes
    both the counts job and the final query read the same materialized
    partitioning; if a checkpoint block is lost Spark fails the job
    rather than recomputing with fresh boundaries, which is the failure
    mode we want.  A pid missing from the offset table raises instead of
    silently dropping its rows.
    """
    parts = df.repartitionByRange(*order).localCheckpoint(eager=False)
    with_pid = parts.withColumn("__pid", F.spark_partition_id())
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in with_pid.groupBy("__pid")
        .agg(F.count("*").alias("cnt"))
        .collect()  # bounded-collect: ≤ P rows of partition METADATA (pid, count), never data
    )
    offsets, acc = {}, 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt
    spark = df.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()], "__pid int, __off bigint"
        )
    )
    w = Window.partitionBy("__pid").orderBy(*order)
    return (
        with_pid.join(off_df, "__pid", "left")
        # a pid the offset table never saw means the partitioning moved
        # between jobs — fail loudly, never silently drop the rows
        .withColumn(
            "__off",
            F.when(
                F.col("__off").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("topk_by_rank: partition id "),
                        F.col("__pid").cast("string"),
                        F.lit(" absent from offset table (range exchange re-executed?)"),
                    )
                ).cast("bigint"),
            ).otherwise(F.col("__off")),
        )
        .where(F.col("__off") < F.lit(n_keep))  # prune whole partitions early
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__off") + F.col("__rk") <= F.lit(n_keep))
        .drop("__pid", "__off", "__rk")
    )


def dsir_sql(
    raw_src: str,
    target_src: str,
    *,
    n_buckets: int = 1 << 12,
    alpha: float = 1.0,
    bigrams: bool = True,
    count_stats: bool = False,
) -> str:
    """DuckDB twin of :func:`dsir_scores` (``hash_fn='md5'`` form):
    same normalized token stream, same uni+bigram list
    (:func:`~pyspark_dist_explore_spark.operators.textstats._cls_grams_sql`),
    same md5-bucket chain, same 1e-6 fixed-point log-ratio sum.  ``raw_src`` /
    ``target_src`` must yield ``(doc_id, text)``.  The count columns are
    exact integers on any build; the ``ds_logw*`` columns share the grid
    only on a controlled engine pair (pytest scope — ORACLES.md class C).
    """
    words = word_tokens_sql("text")
    gram_expr = _cls_grams_sql("l", bigrams=bigrams)
    b = _cls_bucket_sql("gram", n_buckets)
    aB = f"{alpha!r} * {n_buckets}"
    lam = (
        f"CAST(round(1e6 * ln((COALESCE(t.cnt, 0) + {alpha!r}) / (nt + {aB}))) AS BIGINT)"
        f" - CAST(round(1e6 * ln((COALESCE(r.cnt, 0) + {alpha!r}) / (nr + {aB}))) AS BIGINT)"
    )
    stat_cols = (
        """,
         CAST(sum(COALESCE(t.cnt, 0)) AS BIGINT) AS ds_t_mass,
         CAST(sum(CASE WHEN t.cnt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ds_t_hits,
         CAST(sum(COALESCE(r.cnt, 0)) AS BIGINT) AS ds_r_mass"""
        if count_stats
        else ""
    )
    return f"""
WITH raw_src AS ({raw_src}),
tgt_src AS ({target_src}),
raw_g AS (
  SELECT doc_id, unnest({gram_expr}) AS gram
  FROM (SELECT doc_id, {words} AS l
        FROM raw_src) z
),
tgt_g AS (
  SELECT doc_id, unnest({gram_expr}) AS gram
  FROM (SELECT doc_id, {words} AS l
        FROM tgt_src) z
),
raw_b AS (SELECT doc_id, {b} AS bucket FROM raw_g),
tgt_b AS (SELECT doc_id, {b} AS bucket FROM tgt_g),
rcnt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM raw_b GROUP BY bucket),
tcnt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM tgt_b GROUP BY bucket),
tots AS (SELECT (SELECT CAST(sum(cnt) AS DOUBLE) FROM rcnt) AS nr,
                (SELECT CAST(sum(cnt) AS DOUBLE) FROM tcnt) AS nt)
SELECT raw_b.doc_id,
       CAST(count(*) AS BIGINT) AS n_ds_grams,
       CAST(sum({lam}) AS BIGINT) AS ds_logw_e6,
       CAST(sum({lam}) AS BIGINT) / 1e6 AS ds_logw{stat_cols}
FROM raw_b
LEFT JOIN tcnt t USING (bucket)
LEFT JOIN rcnt r USING (bucket)
CROSS JOIN tots
GROUP BY raw_b.doc_id
"""
