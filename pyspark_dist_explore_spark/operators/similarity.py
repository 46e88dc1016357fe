"""Vector similarity search over embedding columns (SURVEY.md §2.2 X4).

The ``embeddings`` table carries ``embedding: array<float>`` (dim 64).
Two paths:

- **exact**: brute-force cosine top-k — the correctness baseline, a
  broadcast theta-join + ``zip_with``/``aggregate`` dot product (JVM
  higher-order functions, no Python).  Oracle-able in DuckDB
  (``list_dot_product``), values rounded to 6 to absorb accumulation-
  order float drift.
- **approximate**: random-hyperplane LSH bucketing with hash-derived
  (seed-free, fully deterministic) ±1 planes.  At scale the probe join
  touches only same-bucket inverted lists instead of all N vectors —
  the IVF-style scale path.  Candidates are re-ranked with the exact
  cosine, so precision is 1.0 within the probed buckets.

100 TB notes: brute-force is O(Q×N) — keep Q (the query set) broadcast-
small; the LSH path shards N into 2^bits buckets, each probe shuffles
only its bucket.  Both avoid ``collect()`` and keep vectors as Spark
arrays end-to-end.  For the memory/IO axis, ``quantize_embeddings``
packs vectors to 1 byte/dim (int8 scalar quantization) so the ANN scan
side is 4× smaller than float32 at a pytest-pinned ≥0.9 recall@5.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType
from pyspark.sql.window import Window

from pyspark_dist_explore_spark.functions.hashing import hex_int, hex_int_sql


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold — matches DuckDB list_dot_product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


@F.pandas_udf(DoubleType())  # DataType instance: no session needed at import
def _dot_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched BLAS dot product.

    Spark's higher-order array functions (``aggregate``/``zip_with``) are
    interpreted per element — on an O(N²) pair join that's the bottleneck.
    This UDF receives whole Arrow batches and does one vectorized einsum
    per batch (~100× per-pair cost reduction at dim 64).
    """
    A = np.stack(a.to_numpy())
    B = np.stack(b.to_numpy())
    return pd.Series(np.einsum("ij,ij->i", A, B))


def _unit(arr: Column) -> Column:
    """Unit-normalize once per VECTOR (O(N)), so pairwise cosine is a bare
    dot product (no per-pair norm recomputation on the O(N²) side).

    Zero-norm (all-zero) vectors normalize to all-zeros rather than NULLs
    (x/0.0 is NULL in Spark, and NULL elements crash the Arrow matmul
    downstream) — they score cosine 0 against everything.
    """
    n = l2norm(_as_double(arr))
    return F.transform(
        arr, lambda x: F.when(n > 0, x.cast("double") / n).otherwise(F.lit(0.0))
    )


# --------------------------------------------------------------------------
# The nearest-centroid and top-k decisions every IVF/ANN operator shares.
# One total order each: cells rank by (sim DESC, cent_id ASC), neighbours
# by (score DESC, vec_id ASC).  Callers pass their own similarity
# expression (dot, _dot_arrow, packed dot; rounded or not).
# --------------------------------------------------------------------------


def _round_to(sim: Column, digits: int | None) -> Column:
    """``sim`` rounded HALF_UP to ``digits`` decimals (unchanged for
    ``None``) — the grid both engines rank on in the fixed-centroid forms."""
    return sim if digits is None else F.round(sim, digits)


def _first_per_query(df: DataFrame, n: int, *order: Column) -> DataFrame:
    """The rows ranked ``1..n`` within each ``query_id`` under ``order``
    (a total order), the position in column ``rank``."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= n)


def _topk_rank(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """Per query the ``k`` rows of highest ``score_col``, ties to the
    smaller ``vec_id``: ``(query_id, rank, vec_id, score_col)``."""
    return _first_per_query(
        scored, k, F.col(score_col).desc(), F.col("vec_id").asc()
    ).select("query_id", "rank", "vec_id", score_col)


def _nearest_cell(payload: Column, sim: Column) -> Column:
    """Aggregate: ``payload`` of the row with the highest ``sim``, ties
    to the smaller ``cent_id``.  ``max_by`` keeps O(1) state, so the
    aggregate runs as map-side partials."""
    return F.max_by(payload, F.struct(sim, (-F.col("cent_id")).alias("neg_cent")))


def _nearest_cells(sim: Column, n: int) -> Column:
    """Aggregate: the ``n`` ``(sim, neg_cent, cent_id)`` structs of
    highest ``sim``, ties to the smaller ``cent_id`` — the order of
    :func:`_nearest_cell`, truncated to ``n``."""
    return F.slice(
        F.sort_array(
            F.collect_list(
                F.struct(sim, (-F.col("cent_id")).alias("neg_cent"), F.col("cent_id"))
            ),
            asc=False,
        ),
        1,
        n,
    )


def _assign_cells(
    v: DataFrame, cents: DataFrame, sim: Column, n_assign: int, *payload: str
) -> DataFrame:
    """Each ``vec_id`` of ``v`` with its ``n_assign`` nearest cells of
    ``cents`` by ``sim``: ``(vec_id, *payload, cent_id)``, one row per
    assigned cell.

    The ``v × cents`` crossJoin collapses back to one row per vector in
    map-side partials before the shuffle (a window here would shuffle
    the replicated corpus).  ``n_assign > 1`` carries a sorted list of
    ``n_centroids`` structs per vector and explodes its head."""
    grouped = (
        v.crossJoin(cents)
        .select("vec_id", *payload, "cent_id", sim.alias("sim"))
        .groupBy("vec_id")
    )
    if n_assign == 1:
        return grouped.agg(
            _nearest_cell(F.struct("cent_id", *payload), F.col("sim")).alias("best")
        ).select(
            "vec_id",
            *[F.col(f"best.{c}").alias(c) for c in payload],
            F.col("best.cent_id").alias("cent_id"),
        )
    return grouped.agg(
        _nearest_cells(F.col("sim"), n_assign).alias("top"),
        *[F.first(c).alias(c) for c in payload],
    ).select("vec_id", *payload, F.explode("top.cent_id").alias("cent_id"))


def _probe_pick(
    q: DataFrame, cents: DataFrame, sim: Column, n_probe: int, *cols: str
) -> DataFrame:
    """Each ``query_id`` of ``q`` with its ``n_probe`` nearest cells of
    ``cents`` by ``sim``, ties to the smaller ``cent_id``:
    ``(query_id, *cols, cent_id)``."""
    pairs = q.crossJoin(cents).select("query_id", *cols, "cent_id", sim.alias("sim"))
    return _first_per_query(
        pairs, n_probe, F.col("sim").desc(), F.col("cent_id").asc()
    ).select("query_id", *cols, "cent_id")


def _fixed_centroids(centroids: DataFrame) -> DataFrame:
    """A caller's ``(cent_id, cv)`` frame, checked and with ``cv`` cast
    to ``array<double>``; a frame without those columns raises."""
    missing = {"cent_id", "cv"} - set(centroids.columns)
    if missing:
        raise ValueError(
            f"centroids frame missing column(s): {sorted(missing)} "
            "(expected (cent_id, cv) with cv unit-normalized)"
        )
    return centroids.select("cent_id", F.col("cv").cast("array<double>").alias("cv"))


def _resolve_centroids(
    centroids: DataFrame | None,
    fit_src: DataFrame,
    n_centroids: int,
    *,
    id_col: str,
    vec_col: str,
    fit_sample_mod: int | None,
    max_fit_rows: int | None,
) -> DataFrame:
    """The broadcast-hinted ``(cent_id, cv)`` cells: the fixed
    ``centroids`` (see :func:`_fixed_centroids`), or, when ``None``, a
    :func:`kmeans_centroids` fit on ``fit_src``'s unit ``vec_col`` —
    that fit runs Spark jobs at call time."""
    if centroids is not None:
        return F.broadcast(_fixed_centroids(centroids))
    return F.broadcast(
        kmeans_centroids(
            fit_src,
            n_centroids,
            vec_col=vec_col,
            id_col=id_col,
            fit_sample_mod=fit_sample_mod,
            max_fit_rows=max_fit_rows,
        )
    )


def exact_scores(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """The full (query, vector) cosine grid both exact rankers consume:
    ``(query_id, vec_id, cos_sim)`` with cosine rounded @6 and
    self-matches excluded.  ``queries`` must be small (broadcast).

    Exposed so a caller that needs MORE than one ranking over the same
    grid (:func:`exact_topk` AND :func:`mine_hard_negatives`, say) can
    compute it once — stage it and pass it via their ``scores=`` —
    instead of paying the broadcast-crossJoin scoring pass per ranking
    (a shared subtree is otherwise computed once per consumer).
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _unit(F.col(vec_col)).alias("qv")
    )
    v = vectors.select(F.col(id_col).alias("vec_id"), _unit(F.col(vec_col)).alias("vv"))
    return (
        v.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(_dot_arrow(F.col("qv"), F.col("vv")), 6).alias("cos_sim"),
        )
    )


def exact_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scores: DataFrame | None = None,
) -> DataFrame:
    """Brute-force cosine top-k: (query_id, rank, vec_id, cos_sim).

    ``queries`` must be small (it is broadcast).  Self-matches (same id)
    are excluded.  Deterministic ordering: rounded cosine desc, vec_id asc.

    ``scores=``: a precomputed :func:`exact_scores` grid — the ranking
    consumes it instead of re-scoring (callers sharing one grid across
    several rankings stage it once).
    """
    scored = (
        exact_scores(
            vectors,
            queries,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
        )
        if scores is None
        else scores
    )
    return _topk_rank(scored, "cos_sim", k)


def cosine_neardup_pairs(
    vectors: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
    partition_col: str | None = None,
    assume_unit: bool = False,
    max_partition_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ threshold).

    Exact all-pairs, computed BLOCKED: vectors hash into ``n_blocks``
    blocks; every unordered block pair (i ≤ j) becomes one Arrow group in
    which a single numpy matmul scores the full sub-matrix and emits only
    pairs ≥ threshold.  Data replication is ×``n_blocks`` (each block
    participates in n_blocks pairs), but the O(N²) scoring runs as BLAS
    inside ~n_blocks²/2 groups instead of N²/2 per-row expression evals —
    and thresholding happens before anything is returned to the plan.
    This is the shape that scales: on a cluster, raise ``n_blocks`` until
    a block fits executor memory; groups shuffle by block-pair key.

    ``partition_col=`` restricts pairs to rows sharing that column's
    value (the group key becomes (partition, block-pair)): the
    sub-quadratic shape :func:`semantic_dedup` needs — all-pairs WITHIN
    a centroid bucket, never across buckets — while the block tiling
    still caps each matmul when a partition is skewed.

    ``max_partition_rows=`` (with ``partition_col``) is the quadratic
    WORK guard the tiling cannot be: tiling bounds each matmul's
    MEMORY, but a partition of S rows still costs O(S²) dots however
    it is tiled.  Enforcement is per BLOCK inside the existing Arrow
    groups — zero extra scans (counting partitions exactly would
    re-execute the whole upstream subtree, e.g. a second full
    assignment pass at 100 TB): a partition of S rows hash-splits into
    ``n_blocks`` blocks of ~S/n_blocks, so any block exceeding
    ``2·budget/n_blocks`` means its partition is, with overwhelming
    probability, past the budget — the group raises a loud ValueError
    naming the partition and the fix instead of silently grinding.  A
    partition marginally over budget (< ~2×) may slip through; this is
    a work guard against orders-of-magnitude blowups, not an exact
    row-count contract.

    ``assume_unit=True`` declares the input vectors ALREADY
    unit-normalized and skips the `_unit` pass: callers that normalized
    upstream (e.g. :func:`semantic_pairs`, whose assignment stage needs
    the unit vectors anyway) would otherwise pay a second divide by a
    ~1.0-but-inexact norm — perturbing last-ulp bits vs an oracle that
    normalized exactly once, so hash parity would lean on round(...,6)
    absorbing the wobble instead of the two engines sharing the same
    arithmetic shape.

    For sub-quadratic pruning use :func:`ann_lsh_neardup_pairs`.
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType as _D,
        StructField as _SF,
        StructType as _ST,
    )

    # output id type follows the input id column (not hardcoded int64)
    id_type = vectors.schema[id_col].dataType

    part_cols = [F.col(partition_col).alias("part")] if partition_col else []
    unit_vec = (
        _as_double(F.col(vec_col)) if assume_unit else _unit(F.col(vec_col))
    )
    v = vectors.select(
        F.col(id_col).alias("id"),
        unit_vec.alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
        *part_cols,
    )
    # replicate each vector into every block-pair group its block joins
    pair_key = F.explode(
        F.array(
            *[
                F.when(
                    F.col("blk") <= F.lit(other),
                    F.struct(
                        (F.col("blk") * n_blocks + F.lit(other)).alias("pk"),
                        F.lit(0).alias("side"),
                    ),
                ).otherwise(
                    F.struct(
                        (F.lit(other) * n_blocks + F.col("blk")).alias("pk"),
                        F.lit(1).alias("side"),
                    )
                )
                for other in range(n_blocks)
            ]
        )
    )
    if max_partition_rows is not None and partition_col is None:
        raise ValueError("max_partition_rows requires partition_col")
    # per-block budget with 2× slack for hash imbalance (see docstring);
    # floor of 16 keeps tiny explicit budgets from tripping on noise
    block_budget = (
        max(2 * max_partition_rows // n_blocks, 16)
        if max_partition_rows is not None
        else None
    )
    keep = ["id", "v", "blk"] + (["part"] if partition_col else [])
    rep = v.select(*keep, pair_key.alias("p")).select(
        *keep, F.col("p.pk").alias("pk"), F.col("p.side").alias("side")
    )

    out_schema = _ST(
        [_SF("id_a", id_type), _SF("id_b", id_type), _SF("cos_sim", _D())]
    )
    thr = float(threshold)

    def score_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if block_budget is not None:
            n_here = int((pdf["side"] == 0).sum())
            m_here = len(pdf) - n_here
            if max(n_here, m_here) > block_budget:
                est = max(n_here, m_here) * n_blocks
                raise ValueError(
                    f"cosine_neardup_pairs: partition {key[0]!r} holds a "
                    f"block of {max(n_here, m_here)} rows (~{est}-row "
                    f"partition) past max_partition_rows={max_partition_rows}"
                    " — a degenerate clustering went quadratic in one cell;"
                    " raise n_centroids (SemDeDup's own recipe) or the budget"
                )
        # with partition_col the group key is (part, pk): pk is LAST
        lo_blk, hi_blk = divmod(int(key[-1]), n_blocks)
        left = pdf[pdf["blk"] == lo_blk]
        right = pdf[pdf["blk"] == hi_blk]
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        # de-dup replicas: same-block pairs appear once (side 0 == side 1)
        left = left.drop_duplicates("id")
        right = right.drop_duplicates("id")
        A = np.stack(left["v"].to_numpy())
        B = np.stack(right["v"].to_numpy())
        sims = A @ B.T
        ia, ib = np.nonzero(np.round(sims, 6) >= thr)
        id_a = left["id"].to_numpy()[ia]
        id_b = right["id"].to_numpy()[ib]
        if lo_blk == hi_blk:
            # same-block matrix holds (x,y) AND (y,x): keep one orientation
            keep = id_a < id_b
            id_a, id_b, s = id_a[keep], id_b[keep], sims[ia, ib][keep]
        else:
            # cross-block pairs appear once with arbitrary id order: emit (min, max)
            s = sims[ia, ib]
            id_a, id_b = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
        return pd.DataFrame(
            {"id_a": id_a, "id_b": id_b, "cos_sim": np.round(s, 6)}
        )

    group_keys = (["part"] if partition_col else []) + ["pk"]
    return rep.groupBy(*group_keys).applyInPandas(score_block, schema=out_schema)


# --------------------------------------------------------------------------
# Approximate path: deterministic random-hyperplane LSH
# --------------------------------------------------------------------------


def _plane_sign(plane: int, dim_idx: Column, hash_fn: str = "xxhash64") -> Column:
    """±1.0 pseudo-random weight for (plane, dim) — hash parity, no RNG
    state, reproducible everywhere.

    ``xxhash64`` (default) hashes the two values directly (multi-arg
    xxhash64) rather than building a string per (plane, element) — ~20%
    off the whole bucketing pass.  ``md5`` derives the sign from the
    first hex digit of ``md5('{plane}:{dim}')`` — slower, but DuckDB
    reproduces it bit-for-bit (:func:`_md5_projection_sql`), so the
    ENTIRE LSH pipeline gains a hash oracle — the same md5-variant move
    as the MinHash/SimHash families."""
    if hash_fn == "xxhash64":
        h = F.xxhash64(F.lit(plane), dim_idx)
        return F.when(h.bitwiseAND(F.lit(1)) == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    if hash_fn == "md5":
        d = hex_int(F.md5(F.concat_ws(":", F.lit(plane), dim_idx)), 1, 1)
        return F.when(d % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


def _md5_sign_value(plane: int, i: int) -> float:
    """Driver-side rendering of the md5 plane-sign rule — hashlib md5 of
    the same ``'{plane}:{i}'`` string, first hex digit parity.  DuckDB's
    ``md5()`` recomputes the identical digest in the oracle, so the
    derivation itself stays cross-engine-checked even though executors
    only ever see the finished ±1 literals."""
    import hashlib

    d = hashlib.md5(f"{plane}:{i}".encode()).hexdigest()[0]
    return 1.0 if int(d, 16) % 2 == 0 else -1.0


def _plane_projections(
    vec: Column, n: int, hash_fn: str, dim: int | None
) -> list[Column]:
    """The ``n`` unscaled projections ``Σ_i w(p,i)·x_i`` of ``vec`` on
    the ±1 planes p = 0…n-1 of :func:`_plane_sign`.

    ``hash_fn='md5'`` with ``dim=`` inlines the plane vectors as ARRAY
    LITERALS computed once on the driver (:func:`_md5_sign_value`)
    instead of re-deriving the n×dim signs per row inside an
    interpreted HOF (md5 + hex-conv per element).  That form VALIDATES
    each row's vector length against ``dim`` and raises at execution
    time on a mismatch: ``zip_with`` would otherwise pad the shorter
    side with NULLs and every projection would silently go NULL (and
    diverge from the DuckDB twin, which builds its sign list from the
    ACTUAL vector length)."""
    literal = hash_fn == "md5" and dim is not None
    if literal:
        # assert_true returns NULL when the predicate holds (making the
        # when() branch take `vec` unchanged) and raises the message at
        # execution time when it does not — the standard loud-guard shape
        # for inside an expression tree
        vec = F.when(
            F.assert_true(
                F.size(vec) == F.lit(dim),
                F.format_string(
                    "vector length %s != dim=%s (literal md5 planes are "
                    "rendered for exactly dim elements)",
                    F.size(vec).cast("string"),
                    F.lit(str(dim)),
                ),
            ).isNull(),
            vec,
        )
    projs = []
    for p in range(n):
        if literal:
            signs = F.array(*[F.lit(_md5_sign_value(p, i)) for i in range(dim)])
            terms = F.zip_with(vec, signs, lambda x, s: x * s)
        else:
            terms = F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda x, i: x * _plane_sign(p, i, hash_fn),
            )
        projs.append(F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x))
    return projs


def _md5_projection_sql(vec_expr: str, p: int) -> str:
    """DuckDB rendering of plane ``p``'s unscaled md5-plane projection:
    ``list_dot_product`` against a ±1 list built from the same
    md5-parity rule as :func:`_md5_sign_value`."""
    d = hex_int_sql(f"md5(CAST({p} AS VARCHAR) || ':' || CAST(i AS VARCHAR))", 1, 1)
    sign = f"CASE WHEN {d} % 2 = 0 THEN 1.0 ELSE -1.0 END"
    return (
        f"list_dot_product({vec_expr}, "
        f"list_transform(range(len({vec_expr})), i -> {sign}))"
    )


def lsh_bucket(
    vec: Column, n_planes: int = 8, *, hash_fn: str = "xxhash64", dim: int | None = None
) -> Column:
    """Random-hyperplane signature: bit p = sign(Σ_i w(p,i)·x_i) ≥ 0 —
    the signs of :func:`_plane_projections`, packed into a BIGINT.

    ``dim=`` (with ``hash_fn='md5'``) inlines the ±1 plane vectors as
    driver-computed array literals and checks every row's vector length
    against it at execution time; at scale pass the embedding dimension
    explicitly."""
    out = F.lit(0).cast("bigint")
    for p, proj in enumerate(_plane_projections(vec, n_planes, hash_fn, dim)):
        out = out + F.when(proj >= 0, F.lit(1 << p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return out


def lsh_bucket_sql(vec_expr: str, n_planes: int) -> str:
    """DuckDB rendering of :func:`lsh_bucket` with ``hash_fn='md5'``:
    the sign of each :func:`_md5_projection_sql` (``>= 0``), same
    power-of-two bit packing."""
    return " + ".join(
        f"CASE WHEN {_md5_projection_sql(vec_expr, p)} >= 0 "
        f"THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for p in range(n_planes)
    )


def random_projection(
    vectors: DataFrame,
    *,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_fn: str = "xxhash64",
    dim: int | None = None,
    scale: bool = True,
    out_col: str = "rp",
) -> DataFrame:
    """X34: Johnson–Lindenstrauss dimensionality reduction with ±1
    Rademacher planes (Achlioptas 2003, "Database-friendly random
    projections", JCSS 66(4)): ``rp[p] = (1/√out_dim)·Σ_i w(p,i)·x_i``
    with ``w ∈ {±1}`` derived from the SAME deterministic plane-sign
    rule as :func:`lsh_bucket` — the LSH signature is exactly the SIGN
    of this projection, so the two share planes and a corpus can land
    both from one pass.  Pairwise dot products (hence cosines on
    re-normalized outputs) are preserved in expectation with variance
    1/out_dim — the standard 100 TB pre-reduction before ANN/
    clustering: shrink 64-dim floats to 8 dims, bucket/cluster there,
    re-rank survivors on the originals.

    ``hash_fn='md5'`` + ``dim=`` inlines the plane vectors as driver
    literals (DuckDB-reproducible: :func:`random_projection_sql`), with
    the same execution-time length guard as :func:`lsh_bucket`;
    ``scale=False`` skips the 1/√out_dim factor (the RAW signed sums —
    what the discretized gate form hashes: over 1e-6-grid integer
    inputs they are exact integers in doubles, order-independent at any
    parallelism).  Pure row-local projection — zero shuffle, zero
    Python, whatever the corpus size.
    """
    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    return vectors.select(
        F.col(id_col).alias("vec_id"),
        F.array(
            *random_projection_exprs(
                F.col(vec_col), out_dim=out_dim, hash_fn=hash_fn, dim=dim, scale=scale
            )
        ).alias(out_col),
    )


def random_projection_exprs(
    vec_col: Column,
    *,
    out_dim: int,
    hash_fn: str = "xxhash64",
    dim: int | None = None,
    scale: bool = True,
) -> list[Column]:
    """The per-plane projection COLUMNS of :func:`random_projection`:
    :func:`_plane_projections` of the double-cast vector, times
    1/√out_dim when ``scale``.  Exposed so a caller can ride an EXISTING
    projection/scan instead of joining a second vectors-derived frame
    by id (``pack_related_documents`` folds the JL order key into its
    assignment pass this way)."""
    projs = _plane_projections(_as_double(vec_col), out_dim, hash_fn, dim)
    if scale:
        projs = [p / F.lit(float(out_dim) ** 0.5) for p in projs]
    return projs


def random_projection_sql(
    vec_expr: str, out_dim: int, *, scale: bool = True
) -> str:
    """DuckDB rendering of :func:`random_projection` with
    ``hash_fn='md5'``: the list of :func:`_md5_projection_sql`, each
    divided by ``sqrt(out_dim)`` when ``scale``."""
    terms = []
    for p in range(out_dim):
        proj = _md5_projection_sql(vec_expr, p)
        if scale:
            proj = f"({proj}) / sqrt({out_dim})"
        terms.append(proj)
    return "[" + ", ".join(terms) + "]"


def rp_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    out_dim: int = 8,
    overfetch: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    hash_fn: str = "xxhash64",
    dim: int | None = None,
) -> DataFrame:
    """Two-stage ANN via JL pre-reduction: score every candidate on its
    ``out_dim``-dim :func:`random_projection` (a dim/out_dim-times
    cheaper scoring pass), keep ``k·overfetch`` per query, re-rank the
    survivors EXACTLY on the original vectors — the classic
    retrieve-then-rerank shape (approximate BY the projection's JL
    variance, recall improves with ``out_dim``/``overfetch``).

    Scale shape: both projections are row-local; the coarse pass is the
    only corpus-wide scoring and runs on out_dim-dim arrays; a
    batch-local Arrow COMBINER prunes each scan batch to its own
    top-``k·overfetch`` per query under the exact final total order
    (``rp_sim`` desc, ``vec_id`` asc — any global top-m row is in its
    batch's top-m under the same order, so the prune is lossless and
    deterministic) BEFORE the per-query rank window, shrinking the
    window's shuffle from N·Q rows to m·Q·n_batches (A/B at 100×
    corpus scale: 28.7 s vs 33.6 s, and the gap widens with N); the
    exact re-rank then touches ``queries × k·overfetch`` rows via a
    broadcast semi of the survivor ids.  Unlike the LSH-bucket path
    nothing is pruned to zero by unlucky bucketing — every candidate is
    scored (cheaply), so recall degrades gracefully instead of
    cliffing.
    """
    if overfetch < 1:
        raise ValueError(f"overfetch must be >= 1, got {overfetch}")
    m = k * overfetch
    v = vectors.select(F.col(id_col).alias("vec_id"), _unit(F.col(vec_col)).alias("vv"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _unit(F.col(vec_col)).alias("qv")
    )
    v_rp = random_projection(
        v, out_dim=out_dim, id_col="vec_id", vec_col="vv", hash_fn=hash_fn, dim=dim
    )
    q_rp = random_projection(
        q, out_dim=out_dim, id_col="query_id", vec_col="qv", hash_fn=hash_fn, dim=dim
    ).withColumnRenamed("vec_id", "query_id")
    coarse = (
        v_rp.crossJoin(F.broadcast(q_rp.select("query_id", F.col("rp").alias("qrp"))))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            dot(F.col("rp"), F.col("qrp")).alias("rp_sim"),
        )
    )

    def _prune(it):  # type: ignore[no-untyped-def]
        # batch-local top-m per query under the EXACT window order —
        # ties at the m-th score must break on vec_id like the window
        # does, or a batch could drop the row the global rank keeps
        for pdf in it:
            if len(pdf) <= m:
                yield pdf
                continue
            yield (
                pdf.sort_values(["rp_sim", "vec_id"], ascending=[False, True])
                .groupby("query_id", sort=False)
                .head(m)
            )

    # _prune preserves columns, so the output schema IS coarse.schema —
    # deriving it (instead of a hardcoded bigint DDL) keeps string/any
    # caller-supplied id types working through the Arrow conversion
    pruned = coarse.mapInPandas(_prune, schema=coarse.schema)
    survivors = _topk_rank(pruned, "rp_sim", m).select("query_id", "vec_id")
    rerank = (
        survivors.join(v, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(_dot_arrow(F.col("qv"), F.col("vv")), 6).alias("cos_sim"),
        )
    )
    return _topk_rank(rerank, "cos_sim", k)


def ann_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    hash_fn: str = "xxhash64",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: probe only the query's LSH bucket, exact re-rank.

    Recall < 1 by construction (bucket-boundary misses); at scale each
    probe touches ~N/2^n_planes vectors instead of N.  ``hash_fn='md5'``
    derives the hyperplanes from md5 parity — DuckDB-reproducible
    (:func:`lsh_bucket_sql`), so the registered variant is
    hash-oracle-checked end to end; xxhash64 stays the faster default.
    ``dim=`` inlines the md5 plane vectors as driver-computed literals
    (see :func:`lsh_bucket`).
    """
    v = vectors.select(
        F.col(id_col).alias("vec_id"), _unit(F.col(vec_col)).alias("vv")
    ).withColumn("bucket", lsh_bucket(F.col("vv"), n_planes, hash_fn=hash_fn, dim=dim))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _unit(F.col(vec_col)).alias("qv")
    ).withColumn("bucket", lsh_bucket(F.col("qv"), n_planes, hash_fn=hash_fn, dim=dim))
    scored = (
        v.join(F.broadcast(q), "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(_dot_arrow(F.col("qv"), F.col("vv")), 6).alias("cos_sim"),
        )
    )
    return _topk_rank(scored, "cos_sim", k)


def kmeans_centroids(
    vectors: DataFrame,
    n_centroids: int,
    *,
    vec_col: str = "vv",
    id_col: str | None = None,
    fit_sample_mod: int | None = None,
    seed: int = 7,
    max_iter: int = 5,
    max_fit_rows: int | None = 1 << 18,
) -> DataFrame:
    """Unit-normalized Spark ML KMeans centers as (cent_id, cv) rows.

    Data-aware centroids (vs picking arbitrary corpus vectors) keep the
    inverted lists balanced on clustered real embeddings — recall@k
    degrades gracefully instead of unpredictably.  Centers are
    unit-normalized so a bare dot product against unit vectors IS
    cosine.  The training projection is persisted for the iterative fit
    (each k-means|| init step + iteration re-reads it; uncached that
    re-runs the scan+normalize per pass — measured 5.0 s → 1.7 s at
    2k×64) and unpersisted before returning.  Coarse quantization needs
    few iterations — default 5.

    ``fit_sample_mod=s`` (with ``id_col``) fits on the deterministic
    hash-sample ``pmod(xxhash64(id), s) == 0`` — ~1/s of the corpus —
    because centroid QUALITY needs a sample, not the corpus: the fit is
    the only part of IVF that scans the data iteratively, so at 100 TB
    it is the part that must not see all rows.  Falls back to the full
    corpus when the sample is too thin to seed ``n_centroids`` clusters
    (< 8 rows per centroid).  The assignment/probe plans are unchanged.

    ``max_fit_rows`` (default 2^18 ≈ 262k, FAISS-ballpark) bounds the
    fit ABSOLUTELY: a ratio sample alone still grows with the corpus —
    1/4 of 100 TB is 25 TB through an iterative ML fit.  When the
    (sampled) fit source exceeds the cap, it is thinned with a SECOND,
    independent hash (``xxhash64(id, 'fitcap')``, falling back to
    hashing the vector itself when no ``id_col`` exists — the cap never
    silently no-ops) to ~``max_fit_rows`` expected rows — deterministic
    (no RNG, same rows every run); a bounded ``limit(cap+1)`` probe
    short-circuits the common under-cap case so the exact count job
    runs only when the cap actually engages.  ``None`` disables it.
    """
    import math

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    need = 8 * n_centroids
    if max_fit_rows is not None and max_fit_rows < need:
        raise ValueError(
            f"max_fit_rows must be >= 8 * n_centroids = {need}, got {max_fit_rows}"
        )
    fit_src = vectors
    if fit_sample_mod is not None and fit_sample_mod > 1:
        if id_col is None:
            raise ValueError("fit_sample_mod requires id_col (the hash-sample key)")
        sample = vectors.where(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(fit_sample_mod)) == 0
        )
        # thin-sample guard: limit().count() short-circuits the scan as
        # soon as enough rows are found (a bare count() scans everything)
        if sample.limit(need).count() >= need:
            fit_src = sample
    if max_fit_rows is not None:
        # the cap key falls back to hashing the VECTOR itself when no id
        # column exists — the cap must hold absolutely either way, never
        # silently no-op
        cap_key = F.col(id_col) if id_col is not None else F.col(vec_col)
        # bounded probe first: the common under-cap case short-circuits
        # like the thin-sample guard; the exact count runs only when the
        # cap might actually engage
        if fit_src.limit(max_fit_rows + 1).count() > max_fit_rows:
            n_fit = fit_src.count()
            deepen = math.ceil(n_fit / max_fit_rows)
            capped = fit_src.where(
                F.pmod(F.xxhash64(cap_key, F.lit("fitcap")), F.lit(deepen)) == 0
            )
            if capped.limit(need).count() >= need:
                fit_src = capped

    train = fit_src.select(array_to_vector(F.col(vec_col)).alias("features")).persist()
    try:
        # seeded random init: k-means|| costs ~8 extra passes for init
        # quality the 5 refinement iterations recover anyway at this k
        model = KMeans(
            k=n_centroids, seed=seed, maxIter=max_iter, initMode="random"
        ).fit(train)
    finally:
        train.unpersist()
    centers = []
    for i, c in enumerate(model.clusterCenters()):
        arr = np.asarray(c, dtype=float)
        norm = float(np.linalg.norm(arr))
        centers.append((i, [float(x) for x in (arr / norm if norm > 0 else arr)]))
    return vectors.sparkSession.createDataFrame(
        centers, "cent_id bigint, cv array<double>"
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_assign: int = 1,
    fit_sample_mod: int | None = 4,
    max_fit_rows: int | None = 1 << 18,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
    assign_round: int | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize into inverted lists, probe the
    ``n_probe`` nearest lists, exact re-rank inside them.  Output
    ``(query_id, rank, vec_id, cos_sim)``; cells rank by (sim DESC,
    cent_id ASC), neighbours by (cos_sim DESC, vec_id ASC).
    ``n_assign < 1`` raises before any Spark job runs.

    ``n_assign`` is the MULTI-ASSIGNMENT recall lever: each
    vector is indexed into its ``n_assign`` nearest lists instead of
    just the argmax one (the FAISS/SPANN-style replication move — a
    neighbor sitting just across a Voronoi boundary becomes reachable
    without widening the probe).  Index size and build shuffle scale by
    exactly ``n_assign`` (a constant replication factor, NOT a scan
    widening); the probe still reads ``n_probe`` lists, so query cost
    rises only with the ~``n_assign``× longer lists.  Measured on the
    worst-case isotropic corpus (tests/test_ops.py): recall@5 at
    ``n_probe=4/16`` lifts ~0.57 → ≥0.8 with ``n_assign=2``.  The
    multi-assign aggregate carries a ``collect_list`` of ``n_centroids``
    (sim, cent) structs per vector through map-side partials — at very
    large ``n_centroids`` prefer raising ``n_probe`` or using the
    packed variant's two-level scheme instead.

    Centroids come from seeded Spark ML KMeans fit on a deterministic
    hash-sample of ~1/``fit_sample_mod`` of the corpus (the 100 TB
    shape — the iterative fit is the only corpus-scanning loop in IVF;
    see :func:`kmeans_centroids`; ``None`` fits on everything), capped
    ABSOLUTELY at ``max_fit_rows`` (the ratio alone would still grow
    with the corpus).  At scale each query scans ~``n_probe/n_centroids`` of the corpus
    instead of all of it, and the inverted lists are the shuffle key.

    ``centroids=`` (a ``(cent_id, cv)`` frame, cv unit-normalized)
    skips the KMeans fit entirely — the same deterministic-form move as
    :func:`semantic_pairs`: caller-provided cells make the whole
    assignment → probe-selection → re-rank chain fully lazy AND
    SQL-expressible, which is what lets the registered
    ``vector_ann_topk`` query be DuckDB-hash-checked (an ML fit is
    not).  In this form every dot product is the sequential JVM fold
    (:func:`dot` — left-to-right like DuckDB's ``list_dot_product``, so
    both engines share the very bits, not just rounded values) instead
    of the Arrow einsum, and ``assign_round=`` rounds the assignment
    AND probe-selection similarities to that many decimals before their
    argmax / top-``n_probe`` pick — the oracle twin rounds identically,
    so both engines rank the same grid.  ``assign_round`` without
    ``centroids`` raises, like ``n_assign < 1``, before any Spark job
    runs: fitted cells rank on the unrounded Arrow dot.  A production
    pipeline uses the fixed form to keep list assignments stable across
    incremental index builds.
    """
    if n_assign < 1:
        raise ValueError(f"n_assign must be >= 1, got {n_assign}")
    if assign_round is not None and centroids is None:
        raise ValueError(
            "assign_round applies only to fixed centroids= (fitted cells "
            "rank on the unrounded Arrow dot)"
        )
    v = vectors.select(F.col(id_col).alias("vec_id"), _unit(F.col(vec_col)).alias("vv"))
    cents = _resolve_centroids(
        centroids,
        v,
        n_centroids,
        id_col="vec_id",
        vec_col="vv",
        fit_sample_mod=fit_sample_mod,
        max_fit_rows=max_fit_rows,
    )
    # fixed cells score with the sequential JVM fold (DuckDB's order) on
    # the assign_round grid; fitted cells with the Arrow einsum
    pair_dot = dot if centroids is not None else _dot_arrow
    assigned = _assign_cells(
        v, cents, _round_to(pair_dot(F.col("vv"), F.col("cv")), assign_round), n_assign, "vv"
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _unit(F.col(vec_col)).alias("qv")
    )
    probes = _probe_pick(
        q, cents, _round_to(pair_dot(F.col("qv"), F.col("cv")), assign_round), n_probe, "qv"
    )
    scored = (
        assigned.join(F.broadcast(probes), "cent_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(pair_dot(F.col("qv"), F.col("vv")), 6).alias("cos_sim"),
        )
        .distinct()  # a (query, vec) pair can meet in several probed lists
    )
    return _topk_rank(scored, "cos_sim", k)


def ann_lsh_neardup_pairs(
    vectors: DataFrame,
    *,
    threshold: float = 0.95,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs pruned by shared LSH bucket, exact cosine verify.
    ``hash_fn='md5'`` gives the DuckDB-reproducible plane variant (see
    :func:`ann_lsh_topk`)."""
    v = vectors.select(
        F.col(id_col).alias("id"), _unit(F.col(vec_col)).alias("v")
    ).withColumn("bucket", lsh_bucket(F.col("v"), n_planes, hash_fn=hash_fn))
    a = v.select("bucket", F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = v.select("bucket", F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(_dot_arrow(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
        .distinct()
    )


def semantic_dedup(
    vectors: DataFrame,
    *,
    threshold: float = 0.95,
    n_centroids: int = 16,
    n_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_mod: int | None = 4,
    max_fit_rows: int | None = 1 << 18,
    resolve_rounds: int = 8,
    centroids: DataFrame | None = None,
    assign_round: int | None = None,
    max_cell_rows: int | None = 1 << 20,
) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with a capped KMeans
    fit, compute exact pairwise cosine ONLY within each cluster, and
    resolve the ≥ ``threshold`` pairs into duplicate groups with one
    deterministic survivor each.  Output: ``(id_col, cluster_id,
    is_survivor)`` — the same keep-list shape as
    :func:`~pyspark_dist_explore_spark.operators.dedup.neardup_clusters`
    (``is_survivor = 1`` selects the kept corpus).

    This is the dedup that lexical methods (MinHash/SimHash/winnowing)
    cannot do: paraphrases, translations, and templated rewrites share
    no shingles but sit next to each other in embedding space.  It is
    approximate BY DESIGN (the paper's construction): pairs whose
    members fall in different KMeans cells are never scored — raising
    ``n_centroids`` trades recall for tractability.

    Scale shape: the fit is absolutely capped (``max_fit_rows``,
    hash-sampled — the only iterative corpus scan, see
    :func:`kmeans_centroids`); assignment is one broadcast crossJoin
    collapsed by map-side ``max_by`` partials (N rows shuffle once, by
    centroid); within-cell scoring reuses :func:`cosine_neardup_pairs`'s
    blocked Arrow matmul with ``partition_col='cent_id'``, so a skewed
    cell is still tiled into ``n_blocks``² bounded matmuls; resolution
    is the lazily-composed
    :func:`~pyspark_dist_explore_spark.operators.dedup.neardup_clusters_lazy`
    (semantic-dup groups are cliques in practice — diameter ~1).  At
    100 TB: raise ``n_centroids`` until N/n_centroids × dim bytes fits
    an executor, exactly the paper's operating recipe.

    Construction is EAGER (the KMeans fit runs jobs at build, like every
    ML-fit operator here); everything downstream of the fit is lazy.

    ``centroids=`` (a ``(cent_id, cv)`` frame, cv unit-normalized)
    skips the KMeans fit entirely: caller-provided cells make the whole
    operator DETERMINISTIC and fully lazy — the form the driver-gate
    oracle checks (fixed centroids are SQL-expressible; an ML fit is
    not) and the form a production pipeline uses to keep cell
    assignments stable across incremental runs.  ``assign_round=``
    rounds the assignment dot products to that many decimals before the
    argmax (with the cent_id tie-break) — the oracle twin rounds
    identically, so the argmax compares the same grid on both engines.

    The pair stage alone is :func:`semantic_pairs` (what
    ``pipeline.semantic_pair_fn`` plugs into ``curate_documents``).

    ``max_cell_rows`` (default 2²⁰) hard-bounds the quadratic work any
    single cell may cost — see :func:`semantic_pairs`, which enforces
    it; a degenerate fit errors loudly instead of grinding.

    The pair frame is ``localCheckpoint``-ed before the cluster
    resolution: the ``resolve_rounds``-round propagation references the
    edge list every round, and without the checkpoint each reference
    re-executes the blocked-matmul pair subtree.  The checkpoint is
    lazy — the first consuming action materializes the pair blocks — so
    construction runs no job beyond the KMeans fit, when one runs.
    """
    from pyspark_dist_explore_spark.operators.dedup import neardup_clusters_lazy

    pairs = semantic_pairs(
        vectors,
        threshold=threshold,
        n_centroids=n_centroids,
        n_blocks=n_blocks,
        id_col=id_col,
        vec_col=vec_col,
        fit_sample_mod=fit_sample_mod,
        max_fit_rows=max_fit_rows,
        centroids=centroids,
        assign_round=assign_round,
        max_cell_rows=max_cell_rows,
    ).localCheckpoint(eager=False)
    return neardup_clusters_lazy(
        pairs,
        a_col="id_a",
        b_col="id_b",
        all_ids=vectors.select(id_col),
        rounds=resolve_rounds,
    ).withColumnRenamed("doc_id", id_col)


def semantic_pairs(
    vectors: DataFrame,
    *,
    threshold: float = 0.95,
    n_centroids: int = 16,
    n_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_mod: int | None = 4,
    max_fit_rows: int | None = 1 << 18,
    centroids: DataFrame | None = None,
    assign_round: int | None = None,
    max_cell_rows: int | None = 1 << 20,
) -> DataFrame:
    """The pair stage of :func:`semantic_dedup`: KMeans (or fixed) cell
    assignment → exact blocked-matmul cosine pairs WITHIN each cell,
    ``(id_a, id_b, cos_sim)`` with ``id_a < id_b`` and ``cos_sim ≥
    threshold``.  See :func:`semantic_dedup` for semantics and the 100 TB
    shape; this form exists so the pipeline's cluster-resolution stage
    can consume semantic pairs like any other ``pair_fn`` output.

    ``max_cell_rows`` (default 2²⁰ ≈ 1M) hard-bounds the quadratic WORK
    a single cell may cost: the block tiling bounds each matmul's
    memory, but a cell of S rows still pays O(S²) dots however tiled —
    a degenerate KMeans fit that collapses the corpus into one cell
    would otherwise grind silently.  Above the budget the pair stage
    raises a loud execution-time error naming the cell and the fix
    (raise ``n_centroids`` — the paper's own scaling recipe);
    enforcement is per hash-block inside the existing Arrow groups
    (zero extra corpus scans — see
    :func:`cosine_neardup_pairs`'s ``max_partition_rows``), so a cell
    marginally over budget (< ~2×) may slip through: it is a guard
    against orders-of-magnitude blowups, not an exact contract.  The
    default permits ~5·10¹¹ dots per worst-case cell before erroring —
    past any sane per-cell budget but far below silent-weeks territory;
    ``None`` disables."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    v = vectors.select(F.col(id_col).alias("vec_id"), _unit(F.col(vec_col)).alias("vv"))
    cents = _resolve_centroids(
        centroids,
        v,
        n_centroids,
        id_col="vec_id",
        vec_col="vv",
        fit_sample_mod=fit_sample_mod,
        max_fit_rows=max_fit_rows,
    )
    # JVM sequential-fold dot for the N×K assignment rows: K is small, so
    # the interpreted fold beats paying a Python-worker stage here (the
    # O(N²) pair side below keeps the Arrow BLAS matmul), and the
    # left-to-right fold matches DuckDB's list_dot_product order exactly
    # — the oracle's assignment grid shares the very bits, not just the
    # rounded values
    assigned = _assign_cells(
        v, cents, _round_to(dot(F.col("vv"), F.col("cv")), assign_round), 1, "vv"
    )
    return cosine_neardup_pairs(
        assigned,
        threshold=threshold,
        id_col="vec_id",
        vec_col="vv",
        n_blocks=n_blocks,
        partition_col="cent_id",
        # `vv` is already unit-normalized (the assignment stage needed
        # the unit vectors); re-normalizing would perturb last-ulp bits
        # vs the single-normalized oracle uv
        assume_unit=True,
        max_partition_rows=max_cell_rows,
    )


# --------------------------------------------------------------------------
# X47: embedding domain clustering/tagging — the link between the
# similarity family (cluster the embedding space) and the sampling
# family (weight the clusters).  Modern mixture recipes (DoReMi /
# DCLM-adjacent, public) derive training-mix DOMAINS by clustering
# document embeddings rather than trusting the crawl's `source` label;
# the cluster id then keys `materialize_mixture` / temperature
# resampling exactly like a source column.
# --------------------------------------------------------------------------


def _domain_argmax(
    vectors: DataFrame,
    centroids: DataFrame | None,
    keep: tuple,
    *,
    n_domains: int,
    id_col: str,
    vec_col: str,
    assign_round: int | None,
    fit_sample_mod: int | None,
    max_fit_rows: int | None,
) -> tuple[DataFrame, Column]:
    """The nearest-centroid aggregate of :func:`assign_domains` and
    :func:`domain_scores`: ``(id_col, __cell, __maxsim, __bad, *keep)``
    with ``__cell`` the argmax ``cent_id`` and ``__maxsim`` its cosine,
    plus the predicate that holds where that label is real.

    ``__bad`` marks an embedding that is NULL or carries a NULL element:
    ``_unit`` turns those into all-zero vectors (the Arrow-matmul
    contract), which would otherwise tie at cosine 0 and take the
    smallest ``cent_id``.  ``max(__sim)`` skips NULLs, so ``__maxsim``
    is NULL exactly when no centroid gave a comparable score (length
    mismatch).  True all-zero vectors stay assignable at cosine 0."""
    v = vectors.select(
        F.col(id_col),
        _unit(F.col(vec_col)).alias("__uv"),
        F.coalesce(
            F.exists(_as_double(F.col(vec_col)), lambda x: x.isNull()),
            F.lit(True),
        ).alias("__bad"),
        *[F.col(c) for c in keep],
    )
    cents = _resolve_centroids(
        centroids,
        v,
        n_domains,
        id_col=id_col,
        vec_col="__uv",
        fit_sample_mod=fit_sample_mod,
        max_fit_rows=max_fit_rows,
    )
    sim = _round_to(dot(F.col("__uv"), F.col("cv")), assign_round)
    grouped = (
        v.crossJoin(cents)
        .select(id_col, "cent_id", sim.alias("__sim"), "__bad", *[F.col(c) for c in keep])
        .groupBy(id_col)
        .agg(
            _nearest_cell(F.col("cent_id"), F.col("__sim")).alias("__cell"),
            F.max("__sim").alias("__maxsim"),
            F.first("__bad").alias("__bad"),
            *[F.first(c).alias(c) for c in keep],
        )
    )
    return grouped, F.col("__maxsim").isNotNull() & ~F.col("__bad")


def assign_domains(
    vectors: DataFrame,
    centroids: DataFrame | None = None,
    *,
    n_domains: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_round: int | None = None,
    fit_sample_mod: int | None = 4,
    max_fit_rows: int | None = 1 << 18,
    domain_col: str = "domain",
    keep: tuple = (),
) -> DataFrame:
    """Nearest-centroid DOMAIN assignment: ``(id_col, domain)`` with
    ``domain`` the ``cent_id`` of the highest-cosine centroid, ties to
    the smaller id.  A row whose similarity is NULL against EVERY
    centroid (a NULL embedding element, a vector whose length
    mismatches the centroids') gets a NULL domain rather than a
    silently laundered label; :func:`domain_tag` folds those into its
    ``missing_domain`` sentinel.

    ``centroids=None`` fits capped KMeans (:func:`kmeans_centroids` —
    the only corpus-scanning iterative step, absolutely bounded by
    ``max_fit_rows``); a caller-provided ``(cent_id, cv)`` frame makes
    the whole operator DETERMINISTIC and fully lazy — the form the
    driver gate hash-checks (fixed centroids are SQL-expressible, an ML
    fit is not) and the form a production pipeline uses to keep domain
    labels stable across incremental crawls (fit once, land the
    centroids, assign every future batch against them).
    ``assign_round`` rounds the assignment cosines to that many
    decimals before the argmax so both engines compare the same grid.

    Scale shape: ONE broadcast crossJoin (K centroid rows ship to every
    executor) collapsed by map-side ``max_by`` partials — N rows
    shuffle once, by id; no per-row Python, no global sort.  The
    aggregation buffer carries the label only, not the vector.

    ``keep=`` carries extra input columns through the aggregate
    unchanged (``F.first`` over the centroid-replicated rows — every
    replica holds the same value, so the pick is deterministic): a
    caller needing a row-local companion column (e.g. the JL order key
    in ``pack_related_documents``) rides this one pass instead of
    computing a second vectors-derived frame and joining it back by
    id."""
    grouped, ok = _domain_argmax(
        vectors,
        centroids,
        keep,
        n_domains=n_domains,
        id_col=id_col,
        vec_col=vec_col,
        assign_round=assign_round,
        fit_sample_mod=fit_sample_mod,
        max_fit_rows=max_fit_rows,
    )
    return grouped.select(
        id_col, F.when(ok, F.col("__cell")).alias(domain_col), *[F.col(c) for c in keep]
    )


def domain_scores(
    vectors: DataFrame,
    centroids: DataFrame | None = None,
    *,
    n_domains: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_round: int | None = None,
    fit_sample_mod: int | None = 4,
    max_fit_rows: int | None = 1 << 18,
) -> DataFrame:
    """X52: nearest-centroid assignment WITH the similarity kept —
    ``(id_col, domain, proto_sim)`` where ``proto_sim`` is the cosine
    to the OWN (assigned) centroid: the PROTOTYPICALITY score of the
    D4 recipe (Tirumala et al. 2023, arXiv:2308.12284 — after
    SemDeDup, also prune the most PROTOTYPICAL points near each
    cluster center; what survives is the diverse shell).  The same
    aggregate as :func:`assign_domains` (the max similarity rides the
    same buffer), the same NULL domain/proto_sim for NULL-element or
    length-mismatched embeddings.

    ``prune = `` :func:`~pyspark_dist_explore_spark.operators.sampling.
    top_frac_per_group` over the NEGATED score keeps the least-
    prototypical fraction per domain — the composition
    :func:`prune_prototypes` wires up."""
    grouped, ok = _domain_argmax(
        vectors,
        centroids,
        (),
        n_domains=n_domains,
        id_col=id_col,
        vec_col=vec_col,
        assign_round=assign_round,
        fit_sample_mod=fit_sample_mod,
        max_fit_rows=max_fit_rows,
    )
    return grouped.select(
        id_col,
        F.when(ok, F.col("__cell")).alias("domain"),
        F.when(ok, F.col("__maxsim")).alias("proto_sim"),
    )


def prune_prototypes(
    vectors: DataFrame,
    keep_frac: tuple[int, int],
    *,
    centroids: DataFrame | None = None,
    n_domains: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_round: int | None = 6,
    fit_sample_mod: int | None = 4,
    max_fit_rows: int | None = 1 << 18,
    salt: str = "proto0",
) -> DataFrame:
    """X52: D4-style DIVERSIFICATION — per discovered domain, keep the
    ``keep_frac`` (exact rational ``(num, den)``) LEAST-prototypical
    vectors and drop the redundant mass near each cluster center
    (run AFTER :func:`semantic_dedup`, per the paper's pipeline).
    Returns ``(id_col, domain, proto_q6)`` for the kept rows,
    ``proto_q6`` the 1e-6 fixed-point prototypicality.

    Pure composition of shipped pieces: :func:`domain_scores` (one
    broadcast-argmax aggregate) → :func:`~pyspark_dist_explore_spark.
    operators.sampling.top_frac_per_group` over the NEGATED fixed-point
    score (one per-domain rank window, md5 tie-break, ceil keep counts
    — small domains never empty).  Unassignable vectors (NULL domain)
    are dropped — route them explicitly via :func:`domain_tag` if they
    must survive."""
    from pyspark_dist_explore_spark.operators.sampling import (
        top_frac_per_group,
    )

    scored = domain_scores(
        vectors,
        centroids,
        n_domains=n_domains,
        id_col=id_col,
        vec_col=vec_col,
        assign_round=assign_round,
        fit_sample_mod=fit_sample_mod,
        max_fit_rows=max_fit_rows,
    ).where(F.col("domain").isNotNull())
    q6 = F.round(F.col("proto_sim") * F.lit(1e6)).cast("bigint")
    staged = scored.select(
        F.col(id_col), "domain", q6.alias("proto_q6"), (-q6).alias("__neg")
    )
    kept = top_frac_per_group(
        staged, "domain", "__neg", keep_frac, id_col, salt=salt
    )
    return kept.select(id_col, "domain", "proto_q6")


def domain_tag(
    docs: DataFrame,
    vectors: DataFrame,
    *,
    centroids: DataFrame | None = None,
    n_domains: int = 16,
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_round: int | None = None,
    fit_sample_mod: int | None = 4,
    max_fit_rows: int | None = 1 << 18,
    domain_col: str = "domain",
    missing_domain: int = -1,
) -> DataFrame:
    """Tag a document frame with its embedding-derived domain: ``docs``
    plus a ``domain`` column (:func:`assign_domains` over ``vectors``,
    joined on ``doc_id_col = vec_id_col``).  Documents without an
    embedding get ``missing_domain`` (default -1) rather than NULL, so
    the output is total and a mixture caller can route or drop them
    explicitly.

    The output feeds the sampling family directly:
    ``materialize_mixture(tagged, 'domain', token_col, id_col,
    targets)`` up/down-samples per DISCOVERED domain, and
    :func:`domain_profile` is the per-domain card those targets are
    derived from.  One equi-join on the id (both sides shuffle by the
    same key once — the canonical co-partitioned shape; at 100 TB
    bucket both tables on the id to elide it).

    ``missing_domain`` covers BOTH no-embedding docs and docs whose
    embedding is unassignable (NULL elements / length mismatch —
    :func:`assign_domains` returns NULL for those rather than a
    laundered label).  ``docs`` must not already carry ``domain_col``
    — re-tagging a tagged frame would make the post-join reference
    ambiguous; rename or drop the old column first."""
    if domain_col in docs.columns:
        raise ValueError(
            f"docs already carries a column named {domain_col!r} — drop or "
            "rename it (or pass a fresh domain_col=) before re-tagging"
        )
    asg = assign_domains(
        vectors,
        centroids,
        n_domains=n_domains,
        id_col=vec_id_col,
        vec_col=vec_col,
        assign_round=assign_round,
        fit_sample_mod=fit_sample_mod,
        max_fit_rows=max_fit_rows,
        domain_col=domain_col,
    )
    joined = docs.join(
        asg, docs[doc_id_col] == asg[vec_id_col], "left"
    ).drop(asg[vec_id_col])
    return joined.withColumn(
        domain_col,
        F.coalesce(F.col(domain_col), F.lit(missing_domain)).cast("bigint"),
    )


def domain_profile(
    tagged: DataFrame,
    *,
    domain_col: str = "domain",
    token_col: str | None = None,
    source_col: str | None = None,
) -> DataFrame:
    """The per-domain PROFILE CARD: ``(domain[, source], n_docs
    [, n_tokens])`` — the integer inputs a mixture recipe turns into
    per-domain token targets (and the audit of how discovered domains
    cut across claimed sources, when ``source_col`` is given).  ONE
    map-side-combined aggregate, output K(×S)-sized; all columns are
    class-A integers by construction."""
    keys = [F.col(domain_col)] + (
        [F.coalesce(F.col(source_col).cast("string"), F.lit("")).alias(source_col)]
        if source_col
        else []
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_docs")]
    if token_col is not None:
        aggs.append(
            F.sum(F.col(token_col).cast("bigint")).cast("bigint").alias("n_tokens")
        )
    return tagged.groupBy(*keys).agg(*aggs)


# --------------------------------------------------------------------------
# Scalar (int8) embedding quantization — the 100 TB memory/IO lever
# --------------------------------------------------------------------------


def dimension_minmax(
    vectors: DataFrame, *, vec_col: str = "embedding"
) -> DataFrame:
    """Global per-dimension [lo, hi] over the corpus: (dim, lo, hi).

    ONE aggregation with map-side partials: posexplode is row-local and
    the groupBy output is ≤ dim rows (64 here) however large the corpus —
    the stats side of quantization never materializes more than a
    driver-trivial table, so it broadcasts at any scale.
    """
    return (
        vectors.select(F.posexplode(_as_double(F.col(vec_col))).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )


def _minmax_row(minmax: DataFrame) -> DataFrame:
    """Collapse the (dim, lo, hi) table to ONE row of dim-ordered lo/hi
    arrays — the broadcast-able form every quantized path joins on."""
    return (
        minmax.groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("dim", "lo", "hi"))).alias("s"))
        .select(
            F.transform("s", lambda r: r["lo"]).alias("los"),
            F.transform("s", lambda r: r["hi"]).alias("his"),
        )
    )


def _make_dot_packed(bits: int):
    """Arrow-batched cosine of packed uint8 codes against float unit
    vectors: frombuffer-unpack, affine dequantize, row-normalize, one
    einsum per batch — floats never exist outside the batch."""
    levels = float((1 << bits) - 1)

    @F.pandas_udf(DoubleType())
    def _dot_packed(
        packed: pd.Series, qv: pd.Series, los: pd.Series, his: pd.Series
    ) -> pd.Series:
        C = np.stack(packed.map(lambda b: np.frombuffer(b, dtype=np.uint8)).to_numpy())
        lo = np.stack(los.to_numpy())
        hi = np.stack(his.to_numpy())
        X = lo + C.astype(np.float64) * (hi - lo) / levels
        n = np.linalg.norm(X, axis=1)
        n[n == 0.0] = 1.0
        Q = np.stack(qv.to_numpy())
        return pd.Series(np.einsum("ij,ij->i", X / n[:, None], Q))

    return _dot_packed


def quantize_embeddings(
    vectors: DataFrame,
    minmax: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Affine per-dimension scalar quantization to ``bits``-bit codes:
    ``code = round((x - lo) / (hi - lo) * (2^bits - 1))`` — output
    (id, codes: array<int>, packed: binary).

    ``minmax`` is the (dim, lo, hi) table from :func:`dimension_minmax`
    (collapsed here to ONE broadcast row of lo/hi arrays, so coding is a
    row-local JVM expression — no shuffle, no Python in the code path).
    ``packed`` is the byte-packed form (one byte per dimension at
    bits=8, via a vectorized Arrow batch pack) — a 4× shrink vs float32
    and 8× vs the double arrays Spark shuffles otherwise: at 100 TB of
    embeddings this is the difference between an ANN index that fits
    executor memory and one that spills.  Degenerate dims (lo == hi)
    and NULL elements code to 0; a row whose WHOLE embedding is NULL
    keeps NULL ``codes``/``packed`` (the Arrow pack skips it via
    ``na_action='ignore'`` instead of crashing — filter on
    ``packed IS NOT NULL`` before indexing); values outside [lo, hi]
    saturate — so coding NEW vectors against a SAVED minmax (the
    incremental path: fit stats once, reuse per batch) is safe by
    construction.
    Codes are deterministic ⇒ DuckDB-twin-checkable (pinned in
    tests/test_ops.py).
    """
    if not 1 <= bits <= 8:
        raise ValueError(f"bits must be in [1, 8] (one packed byte per dim), got {bits}")
    levels = (1 << bits) - 1
    arrs = _minmax_row(minmax)
    coded = vectors.crossJoin(F.broadcast(arrs)).select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            _as_double(F.col(vec_col)),
            # clamp to [0, levels]: when coding NEW vectors against a
            # SAVED minmax (the incremental case — no per-batch re-fit),
            # out-of-range values saturate instead of wrapping in the
            # uint8 pack; NULL elements code to 0 (documented, like
            # degenerate dims) rather than crashing the Arrow pack
            lambda x, i: F.coalesce(
                F.when(
                    F.element_at(F.col("his"), i + 1) > F.element_at(F.col("los"), i + 1),
                    F.least(
                        F.lit(levels),
                        F.greatest(
                            F.lit(0),
                            F.round(
                                (x - F.element_at(F.col("los"), i + 1))
                                / (
                                    F.element_at(F.col("his"), i + 1)
                                    - F.element_at(F.col("los"), i + 1)
                                )
                                * F.lit(float(levels))
                            ).cast("int"),
                        ),
                    ),
                ).otherwise(F.lit(0)),
                F.lit(0),
            ),
        ).alias("codes"),
    )
    return coded.withColumn("packed", _pack_codes(F.col("codes")))


@F.pandas_udf(BinaryType())  # DataType instance: no session needed at import
def _pack_codes(codes: pd.Series) -> pd.Series:
    """Arrow-batched byte pack: array<int> (0..255) → one byte per dim.
    NULL codes (a whole-NULL source embedding — F.transform(NULL) is
    NULL) pass through as NULL bytes via ``na_action`` instead of
    raising in ``np.asarray(None)``."""
    return codes.map(
        lambda c: np.asarray(c, dtype=np.uint8).tobytes(), na_action="ignore"
    )


def topk_quantized(
    quantized: DataFrame,
    minmax: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    bits: int = 8,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k over PACKED int8 codes — the quantized
    twin of :func:`exact_topk`: (query_id, rank, vec_id, cos_sim).

    Scans ``packed`` (1 byte/dim) instead of the float vectors; each
    Arrow batch unpacks with ``np.frombuffer`` and dequantizes into one
    matmul — vectors stay packed through the shuffle and only exist as
    floats inside a batch.  Recall vs the exact float path is pinned in
    pytest (8-bit keeps neighbor order almost everywhere; the residual
    is bounded by the per-dim step (hi-lo)/255).
    """
    arrs = _minmax_row(minmax)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _unit(F.col(vec_col)).alias("qv")
    )
    _dot_packed = _make_dot_packed(bits)
    scored = (
        quantized.crossJoin(F.broadcast(arrs))
        .crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot_packed(F.col("packed"), F.col("qv"), F.col("los"), F.col("his")), 6
            ).alias("cos_sim"),
        )
    )
    return _topk_rank(scored, "cos_sim", k)


def ivf_topk_packed(
    quantized: DataFrame,
    minmax: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    fit_sample_mod: int | None = 4,
    max_fit_rows: int | None = 1 << 18,
    bits: int = 8,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    assign_round: int | None = None,
) -> DataFrame:
    """IVF ANN over PACKED int8 codes — the composed 100 TB path:
    bucketed candidate generation (scan ~n_probe/n_centroids of the
    corpus per query) over vectors that are 4× smaller than float32.

    The corpus side stays ``packed`` end-to-end: centroid assignment
    and final scoring both go through the Arrow packed-dot (dequantize
    per batch, one einsum); floats exist corpus-side ONLY for the
    KMeans fit, which dequantizes just the deterministic hash sample
    (~1/``fit_sample_mod``) row-locally in the JVM.  With
    ``n_probe == n_centroids`` the result is exactly
    :func:`topk_quantized` (every list scanned) — pinned in pytest.

    ``centroids=`` (``(cent_id, cv)``, cv unit-normalized) skips the
    KMeans fit — the deterministic form (see :func:`ivf_topk`).  Unlike
    the float form this KEEPS the packed Arrow arithmetic (that IS the
    serving path being checked); determinism needs only fixed cells.
    ``assign_round=`` rounds assignment and probe-selection sims before
    their argmax / top-``n_probe`` windows so an oracle twin computing
    the same dequantized values by a different summation order ranks
    the same grid (the re-rank output is round-6 by contract already).
    """
    arrs = _minmax_row(minmax)
    _dot_packed = _make_dot_packed(bits)
    levels = float((1 << bits) - 1)

    # fit-side dequantization: codes -> lo + c*(hi-lo)/levels, a
    # row-local JVM transform — no Python, no shuffle
    def _dequant(codes: Column) -> Column:
        return F.transform(
            codes,
            lambda c, i: F.element_at(F.col("los"), i + 1)
            + c.cast("double")
            * (
                F.element_at(F.col("his"), i + 1) - F.element_at(F.col("los"), i + 1)
            )
            / F.lit(levels),
        )

    fit_src = quantized.crossJoin(F.broadcast(arrs)).select(
        "vec_id", _unit(_dequant(F.col("codes"))).alias("vv")
    )
    cents = _resolve_centroids(
        centroids,
        fit_src,
        n_centroids,
        id_col="vec_id",
        vec_col="vv",
        fit_sample_mod=fit_sample_mod,
        max_fit_rows=max_fit_rows,
    )
    # nearest-centroid assignment over packed codes: the corpus column
    # stays 1 byte/dim through the aggregate
    assigned = _assign_cells(
        quantized.select("vec_id", "packed").crossJoin(F.broadcast(arrs)),
        cents,
        _round_to(
            _dot_packed(F.col("packed"), F.col("cv"), F.col("los"), F.col("his")),
            assign_round,
        ),
        1,
        "packed",
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _unit(F.col(vec_col)).alias("qv")
    )
    # queries are float-side: the sequential fold in the fixed form (the
    # oracle's list_dot_product bits, free at Q×K rows), Arrow otherwise
    query_dot = dot if centroids is not None else _dot_arrow
    probes = _probe_pick(
        q,
        cents,
        _round_to(query_dot(F.col("qv"), F.col("cv")), assign_round),
        n_probe,
        "qv",
    )
    scored = (
        assigned.join(F.broadcast(probes), "cent_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .crossJoin(F.broadcast(arrs))
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot_packed(F.col("packed"), F.col("qv"), F.col("los"), F.col("his")), 6
            ).alias("cos_sim"),
        )
        .distinct()  # a (query, vec) pair can meet in several probed lists
    )
    return _topk_rank(scored, "cos_sim", k)

def quantize_codes_sql(
    vectors_sql: str, *, id_col: str = "vec_id", vec_col: str = "embedding", bits: int = 8
) -> str:
    """DuckDB twin of :func:`quantize_embeddings`'s codes column (the
    packed bytes are a pure re-encoding of codes, pinned separately):
    identical per-dimension minmax, affine scale, and half-up rounding.

    Spark's ``round`` on doubles is HALF_UP (round(2.5)=3); DuckDB's
    ``round`` matches on doubles, so the twin uses the same expression
    shape.  Lists are 1-indexed in DuckDB — ``generate_subscripts``
    keeps dim alignment with Spark's 0-based posexplode (dim+1).
    """
    levels = (1 << bits) - 1
    return f"""
WITH v AS (SELECT * FROM ({vectors_sql})),
exploded AS (
  -- unnest + generate_subscripts expand in lockstep (DuckDB has no
  -- WITH ORDINALITY); -1 aligns with Spark's 0-based posexplode
  SELECT generate_subscripts({vec_col}, 1) - 1 AS dim,
         CAST(unnest({vec_col}) AS DOUBLE) AS x
  FROM v
),
mm AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM exploded GROUP BY dim)
SELECT v.{id_col} AS vec_id,
       list_transform(
         list_zip(v.{vec_col}, range(1, len(v.{vec_col}) + 1)),
         p -> COALESCE(CASE WHEN mmh.his[p[2]] > mml.los[p[2]]
                   THEN LEAST({levels}, GREATEST(0,
                        CAST(round((CAST(p[1] AS DOUBLE) - mml.los[p[2]])
                        / (mmh.his[p[2]] - mml.los[p[2]]) * {levels}) AS INT)))
                   ELSE 0 END, 0)
       ) AS codes
FROM v,
     (SELECT list(lo ORDER BY dim) AS los FROM mm) mml,
     (SELECT list(hi ORDER BY dim) AS his FROM mm) mmh
"""


def mean_pool_embeddings(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    *,
    weight_col: str | None = None,
    normalize: bool = False,
) -> DataFrame:
    """Pool chunk/token-level vectors into one vector per ``group`` —
    the standard chunk→document aggregation between
    :func:`packing.chunk_documents`-style splitting and every
    similarity/dedup/decontam consumer here (a doc embedded as N chunk
    vectors needs ONE vector to enter SemDeDup, ANN, or semantic
    decontamination).  ``weight_col`` (e.g. chunk token counts) makes
    it a weighted mean; ``normalize=True`` L2-normalizes the pooled
    vector (what cosine consumers want).

    Output: ``(group_col, embedding, n_pooled)``.  NULL vectors are
    skipped (they contribute to neither sum nor count); a group with
    only NULL vectors produces no row.  Mixed dims raise at execution
    (zip semantics would silently truncate — refuse instead).

    Scale shape: ``posexplode`` the vectors (row-local) → ONE hash
    aggregate keyed by ``(group, position)`` with map-side partial
    sums → per-group ordered re-assembly via ``array_sort(collect_list
    (struct(pos, val)))`` — the same two-exchange shape as every other
    pooled aggregate here; no window over the corpus, no driver
    materialization, dims-bounded rows into the final collect_list.
    The per-position mean divides ONCE at the end (sum/weight), so the
    result is independent of row order up to float addition — round
    the output (or compare @6dp) when hashing across engines.
    """
    vec = _as_double(F.col(vec_col))
    w = F.col(weight_col).cast("double") if weight_col is not None else F.lit(1.0)
    exploded = (
        df.where(F.col(vec_col).isNotNull())
        .select(
            F.col(group_col).alias("group"),
            w.alias("__w"),
            F.size(vec).alias("__dim"),
            F.posexplode(vec).alias("pos", "val"),
        )
    )
    agg = exploded.groupBy("group", "pos").agg(
        F.sum(F.col("val") * F.col("__w")).alias("__sv"),
        F.sum("__w").alias("__sw"),
        F.count_distinct("__dim").alias("__ndim"),
        # every vector contributes one row per position, so the count at
        # any single position IS the pooled-vector count
        F.count(F.lit(1)).alias("__nrows"),
    )
    checked = agg.select(
        "group",
        "pos",
        F.when(
            F.col("__ndim") > 1,
            F.raise_error(
                F.concat(
                    F.lit("mean_pool_embeddings: mixed vector dims in group "),
                    F.col("group").cast("string"),
                )
            ),
        ).otherwise(F.col("__sv") / F.col("__sw")).alias("val"),
        F.col("__nrows").alias("__n"),
    )
    pooled = checked.groupBy("group").agg(
        F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("__s"),
        F.max("__n").cast("bigint").alias("n_pooled"),
    )
    vec_out = F.transform("__s", lambda r: r["val"])
    if normalize:
        nrm = F.sqrt(F.aggregate(vec_out, F.lit(0.0), lambda a, x: a + x * x))
        vec_out = F.when(nrm > 0, F.transform(vec_out, lambda x: x / nrm)).otherwise(
            vec_out
        )
    return pooled.select(
        F.col("group").alias(group_col),
        vec_out.alias("embedding"),
        "n_pooled",
    )


# --------------------------------------------------------------------------
# X64: product quantization (PQ) — compressed-domain similarity search
# --------------------------------------------------------------------------


def pq_subvectors(
    df: DataFrame,
    *,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Split each ``dim``-dimensional vector into ``m`` contiguous
    subvectors of ``dim/m`` components: ``(id, sub, sv)`` rows, ``m``
    per vector — pure row-local slicing (posexplode of a generated
    slice array, no shuffle).  The shared first stage of PQ fit /
    encode / query-LUT builds (Jégou et al. 2011, TPAMI — "Product
    quantization for nearest neighbor search")."""
    if m < 1 or dim % m != 0:
        raise ValueError(f"dim ({dim}) must be a positive multiple of m ({m})")
    d0 = dim // m
    subs = F.array(
        *[
            F.slice(F.col(vec_col).cast("array<double>"), s * d0 + 1, d0)
            for s in range(m)
        ]
    )
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(subs).alias("sub", "sv")
    )


def _pq_fit_source(
    subs: DataFrame, fit_sample_mod: int | None, max_fit_rows: int | None
) -> DataFrame:
    """The KMeans fit corpus for :func:`pq_codebooks`: hash-sampled by
    ``fit_sample_mod``, then absolutely capped at ``max_fit_rows``
    per-subspace rows (the ``kmeans_centroids`` cap move).  The bounded
    ``limit(cap+1).count()`` is ONLY the engage probe — deriving the
    keep fraction from it would truncate ``n_src`` at ``cap+1`` and
    keep ≈ 100% of any corpus well past the cap (the cap would
    silently no-op); once engaged, the keep fraction
    comes from the exact count."""
    fitsrc = subs
    if fit_sample_mod is not None:
        fitsrc = fitsrc.where(
            F.pmod(F.xxhash64(F.col("id")), F.lit(fit_sample_mod)) == 0
        )
    if max_fit_rows is not None:
        frac_hash = F.pmod(F.xxhash64(F.col("id"), F.lit("pqfitcap")), F.lit(1 << 16))
        sub0 = fitsrc.where(F.col("sub") == 0)
        if sub0.limit(max_fit_rows + 1).count() > max_fit_rows:
            n_src = sub0.count()
            keep = int((1 << 16) * max_fit_rows / n_src)
            fitsrc = fitsrc.where(frac_hash < F.lit(max(1, keep)))
    return fitsrc


def pq_codebooks(
    vectors: DataFrame,
    *,
    m: int,
    dim: int,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit: str = "sample",
    fit_sample_mod: int | None = 4,
    max_fit_rows: int | None = 1 << 18,
) -> DataFrame:
    """Per-subspace PQ codebooks ``(sub, code, cv)`` — ``n_codes``
    entries for each of the ``m`` subspaces.

    ``fit='sample'`` (default, the DETERMINISTIC form the driver gate
    hash-checks): codes are the subvectors of the first ``n_codes``
    ids — data-derived yet SQL-expressible, the ``_SEMDEDUP_CELLS``
    fixed-centroid move.  ``fit='kmeans'`` runs a seeded capped KMeans
    per subspace (the paper's codebook recipe — m independent fits on
    the hash-sampled corpus, each over ``dim/m``-dim points) in the RAW
    subvector space (NOT :func:`kmeans_centroids`, whose centers are
    unit-normalized for cosine — PQ quantizes magnitudes, so
    normalizing the codebook would destroy the reconstruction); like
    every ML-fit operator here it stays pytest-pinned, never oracled."""
    if fit not in ("sample", "kmeans"):
        raise ValueError(f"fit must be 'sample' or 'kmeans', got {fit!r}")
    subs = pq_subvectors(vectors, m=m, dim=dim, id_col=id_col, vec_col=vec_col)
    if fit == "sample":
        return subs.where(F.col("id") < n_codes).select(
            "sub", F.col("id").cast("int").alias("code"), F.col("sv").alias("cv")
        )
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    fitsrc = _pq_fit_source(subs, fit_sample_mod, max_fit_rows)
    staged = fitsrc.select(
        "sub", array_to_vector(F.col("sv").cast("array<double>")).alias("features")
    ).persist()
    out = None
    try:
        for s in range(m):
            model = KMeans(k=n_codes, seed=7, maxIter=5).fit(
                staged.where(F.col("sub") == s)
            )
            # center ORDER from a seeded fit is only stable per Spark
            # version — sort the centers so code ids are a pure function
            # of the fitted values
            centers = sorted(list(map(float, c)) for c in model.clusterCenters())
            sdf = subs.sparkSession.createDataFrame(
                [(s, i, c) for i, c in enumerate(centers)],
                "sub int, code int, cv array<double>",
            )
            out = sdf if out is None else out.unionByName(sdf)
    finally:
        staged.unpersist()
    return out


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    *,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple = (),
) -> DataFrame:
    """PQ-encode every vector: per subspace, the code of the nearest
    codebook entry by squared L2 (``v·v − 2·v·c + c·c`` — three
    sequential-fold dots, so on 1e-6-grid integer inputs the distance
    is an EXACT integer and the argmin is engine-portable; ties break
    to the smallest code).  Output ``(vec_id, codes array<int>)`` —
    ``m`` small ints replace ``dim`` floats (the 64-dim float vector
    becomes 8 bytes at n_codes ≤ 256: the paper's 32× compression).

    Scale shape: ONE Arrow pass over the N vector rows, zero shuffle —
    the codebook is collected driver-side (``m·n_codes`` rows, the
    lsh-plane-literal precedent) into per-subspace numpy matrices, and
    each Arrow batch runs ``m`` BLAS matmuls (``batch × n_codes``
    distance grids via ``c·c − 2·v·c``; the row-constant ``v·v`` term
    cannot move the argmin and is dropped).  The original
    explode → broadcast-join → min_by form measured 48× slower at the
    100× probe decade (25.6M Arrow rows vs one pass over 200k).
    ``np.argmin`` returns the FIRST minimum and the codebook rows are
    ordered by ascending code, so ties break to the smallest code —
    the same total order as the DuckDB twin's (dist ASC, code ASC)
    ``row_number``.  On 1e-6-grid inputs every product and partial sum
    is an exact integer ≪ 2⁵³, so the matmul equals the twin's
    sequential fold BIT FOR BIT (raw-float inputs may differ in final
    ulps, which only perturbs measure-zero distance ties).

    ``keep=`` carries extra input columns through unchanged (e.g. the
    ``cent_id`` of a residual row — :func:`ivf_pq_residual_topk`)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    if m < 1 or dim % m != 0:
        raise ValueError(f"dim ({dim}) must be a positive multiple of m ({m})")
    d0 = dim // m
    cb_rows = codebooks.select(
        "sub", "code", "cv"
    ).collect()  # bounded-collect: m·n_codes codebook rows (model-sized)
    by_sub: dict = {}
    for r in cb_rows:
        by_sub.setdefault(int(r["sub"]), []).append(
            (int(r["code"]), [float(x) for x in r["cv"]])
        )
    mats, code_ids, csqs = {}, {}, {}
    for s in range(m):
        entries = sorted(by_sub.get(s, []))
        if not entries:
            raise ValueError(f"codebooks carry no entries for subspace {s}")
        C = np.array([cv for _, cv in entries], dtype=np.float64)
        if C.shape[1] != d0:
            raise ValueError(
                f"codebook subvectors for subspace {s} have dim {C.shape[1]}, "
                f"expected {d0}"
            )
        mats[s] = C
        code_ids[s] = np.array([c for c, _ in entries], dtype=np.int32)
        csqs[s] = np.einsum("ij,ij->i", C, C)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _encode(v: pd.Series) -> pd.Series:
        arrs = v.to_numpy()
        if any(a is None or len(a) != dim for a in arrs):
            raise ValueError(
                f"pq_encode: every vector must be non-null with dim {dim}"
            )
        V = np.stack(arrs).astype(np.float64)
        out = np.empty((len(V), m), dtype=np.int32)
        for s in range(m):
            Vs = V[:, s * d0 : (s + 1) * d0]
            dists = csqs[s] - 2.0 * (Vs @ mats[s].T)
            out[:, s] = code_ids[s][np.argmin(dists, axis=1)]
        return pd.Series(list(out))

    return vectors.select(
        F.col(id_col).alias("vec_id"),
        _encode(F.col(vec_col).cast("array<double>")).alias("codes"),
        *[F.col(c) for c in keep],
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    *,
    k: int = 5,
    m: int,
    dim: int,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
    scan: str = "rows",
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over PQ codes: the
    query stays a float vector, the corpus is scanned in the COMPRESSED
    domain — per query a ``m × n_codes`` lookup table of subspace dot
    products, each database vector scored by summing its ``m`` table
    entries.  On 1e-6-grid inputs every LUT entry and score is an exact
    integer, so ranking is engine-portable (ties to the smaller id).

    Output ``(query_id, rank, vec_id, score)`` — ``score`` is the ADC
    dot-product approximation (codebook reconstruction · query); with a
    codebook containing every corpus subvector it equals the exact dot,
    which is the exactness invariant the tests pin.

    Scale shape: the LUT (``Q·m·n_codes`` rows) is BROADCAST; the scan
    is one pass over the exploded code rows (``N·m``) — the PQ promise
    is exactly this: the scan touches 1-byte codes, not ``dim``-float
    vectors, trading ~32× scan bandwidth for approximation.
    ``candidates=`` (a ``(query_id, vec_id)`` frame) restricts scoring
    to a precomputed candidate set — compose with
    :func:`ivf_topk`-style list probing for the IVF-PQ shape where
    even the compressed full scan is too much.

    ``scan='batch'`` (the micro-batch serving path): instead
    of the exploded-row LUT equi-join (m rows per scored pair plus the
    per-pair sum aggregate), the LUT is collected driver-side
    (``Q·m·n_codes`` entries — MICRO-BATCH-BOUNDED by definition; this
    mode is for bounded query batches, never unbounded query tables)
    and scoring becomes ONE distributed Arrow pass with a numpy gather
    per batch — measured 101 s → 17 s warm for a 1000-query batch whose
    candidate set blew up to 50M pairs (16 coarse lists over a
    200k-vector index), and parity (~7 s both) once the lists are
    √N-sized; the batch scan bounds the damage of a mis-sized candidate
    set.  On grid inputs both scans produce the very
    same integers (pytest-pinned equal); on raw floats the batch LUT
    is built by Arrow einsum and may differ from the fold in final
    ulps.  Requires every scanned code to exist in the codebook
    (always true for :func:`pq_encode` output)."""
    if scan not in ("rows", "batch"):
        raise ValueError(f"scan must be 'rows' or 'batch', got {scan!r}")
    if scan == "batch":
        return _pq_topk_batch(
            codes, queries, codebooks,
            k=k, m=m, dim=dim,
            query_id_col=query_id_col, vec_col=vec_col,
            candidates=candidates,
        )
    q_subs = pq_subvectors(
        queries, m=m, dim=dim, id_col=query_id_col, vec_col=vec_col
    ).select(F.col("id").alias("query_id"), "sub", F.col("sv").alias("qv"))
    lut = F.broadcast(
        q_subs.join(codebooks.select("sub", "code", "cv"), "sub").select(
            "query_id", "sub", "code", dot(F.col("qv"), F.col("cv")).alias("part")
        )
    )
    exploded = codes.select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    )
    if candidates is not None:
        # IVF-PQ shape: restrict BEFORE scoring — only candidate pairs'
        # code rows meet the LUT, so the compressed scan touches
        # |candidates|·m rows, not N·m.  The candidate frame is
        # query-probe-bounded (Q · n_probe/n_lists · N) — NO broadcast
        # hint: for a handful of queries AQE broadcasts it at runtime
        # anyway, while a forced hint on a 1000-query micro-batch ships
        # a Q·N/n_lists-row table to every executor (measured: the
        # forced form took 124 s vs ~30 s for a 1000-query
        # batch against a 200k-vector index; sizes are only knowable at
        # runtime, which is exactly AQE's job).
        scored = (
            exploded.join(candidates.select("query_id", "vec_id"), "vec_id")
            .join(lut, ["query_id", "sub", "code"])
            .where(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id", "vec_id")
            .agg(F.sum("part").alias("score"))
        )
    else:
        scored = (
            exploded.join(lut, ["sub", "code"])
            .where(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id", "vec_id")
            .agg(F.sum("part").alias("score"))
        )
    return _topk_rank(scored, "score", k)


def pq_rotation(
    dim: int, *, salt: str = "pqrot", hash_fn: str = "md5"
) -> "list[tuple[int, int]]":
    """OPQ-style SIGNED PERMUTATION for PQ subspace energy balancing —
    the structured-rotation variant of Ge et al. 2013 (OPQ, CVPR) /
    Jégou et al. 2011 §5's random-rotation preprocessing: output
    position ``i`` takes ``sign_i · v[src_i]`` where the permutation
    sorts dimensions by ``md5(salt:i)`` and the sign is the parity of
    ``md5(salt#i)``'s first hex digit.

    A signed permutation is EXACTLY orthogonal, so dot products (hence
    every exact/ADC ranking) are preserved term-for-term — on 1e-6-grid
    integer inputs the rotated dot is the SAME exact integer, just
    summed in a permuted order; unlike a dense Gaussian/Rademacher
    rotation it keeps grid inputs ON the grid, so the whole PQ
    exactness discipline survives rotation.  What it changes is the
    SLICING: correlated/high-energy dimensions that would land in one
    subspace (wasting the other subspaces' code budgets) are spread
    md5-uniformly across all ``m`` — the OPQ motivation, pinned by a
    measured reconstruction-error drop on a heteroscedastic corpus.

    Returns the driver-side mapping ``[(src_dim, sign)] * dim`` (a
    model-sized literal, the LSH-plane precedent).
    """
    import hashlib

    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    if hash_fn != "md5":
        raise ValueError(f"only hash_fn='md5' is supported, got {hash_fn!r}")
    perm = sorted(
        range(dim),
        key=lambda i: (hashlib.md5(f"{salt}:{i}".encode()).hexdigest(), i),
    )
    return [
        (
            src,
            1 if int(hashlib.md5(f"{salt}#{src}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1,
        )
        for src in perm
    ]


def rotate_embeddings(
    df: DataFrame,
    *,
    dim: int,
    vec_col: str = "embedding",
    salt: str = "pqrot",
    inverse: bool = False,
) -> DataFrame:
    """Apply :func:`pq_rotation`'s signed permutation to ``vec_col``
    (``inverse=True`` undoes it — signed permutations are orthogonal,
    so the inverse is the transpose).  ONE Arrow pass with numpy fancy
    indexing per batch (``V[:, perm] * signs`` — pure
    permutation/negation, no arithmetic reordering, so values are
    bit-identical to any per-element form); row-local, no shuffle.
    The original 64-literal ``F.array(element_at(...))`` projection
    re-cast the input array once PER OUTPUT ELEMENT (no CSE across
    ``CreateArray`` children) — measured at +14 s per 200k-row
    pass.  NULL vectors pass through as NULL.  Corpus and
    queries must be rotated with the SAME salt before PQ
    encode/serving; scores then equal the unrotated scores exactly
    (see :func:`pq_rotation`)."""
    from pyspark.sql.types import ArrayType

    rot = pq_rotation(dim, salt=salt)
    if inverse:
        back = [None] * dim
        for i, (src, sgn) in enumerate(rot):
            back[src] = (i, sgn)
        perm = np.array([i for i, _ in back], dtype=np.int64)
        signs = np.array([s for _, s in back], dtype=np.float64)
    else:
        perm = np.array([src for src, _ in rot], dtype=np.int64)
        signs = np.array([sgn for _, sgn in rot], dtype=np.float64)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _rotate(v: pd.Series) -> pd.Series:
        arrs = v.to_numpy()
        ok = [a is not None and len(a) == dim for a in arrs]
        if all(ok):
            out = np.stack(arrs).astype(np.float64)[:, perm] * signs
            return pd.Series(list(out))
        res = []
        for a, good in zip(arrs, ok):
            res.append(
                np.asarray(a, dtype=np.float64)[perm] * signs if good else None
            )
        return pd.Series(res)

    return df.withColumn(vec_col, _rotate(F.col(vec_col).cast("array<double>")))


def _pq_base_ctes(
    vectors_sql: str, *, m: int, dim: int, n_codes: int, id_col: str, vec_col: str
) -> str:
    """Shared CTE prefix of the three PQ twins (:func:`pq_codes_sql`,
    :func:`pq_adc_sql`, :func:`ivf_pq_sql`) — ONE arithmetic definition
    renders every dialect: subvector slicing (1-indexed
    ``list_slice``), the ``fit='sample'`` codebooks (subvectors of ids
    < ``n_codes``), and the three-dot squared-L2 (dist ASC, code ASC)
    argmin assignment.  On 1e-6-grid integer inputs both engines
    compare the very same integers."""
    if m < 1 or dim % m != 0:
        raise ValueError(f"dim ({dim}) must be a positive multiple of m ({m})")
    d0 = dim // m
    return f"""pqv AS (SELECT {id_col} AS vec_id, {vec_col} AS ve FROM ({vectors_sql})),
pqs AS (
  SELECT vec_id, s, list_slice(ve, s * {d0} + 1, (s + 1) * {d0}) AS sv
  FROM pqv, (SELECT unnest(generate_series(0, {m - 1})) AS s) ss
),
pqcb AS (SELECT s, CAST(vec_id AS INT) AS code, sv AS cv FROM pqs WHERE vec_id < {n_codes}),
pqasg AS (
  SELECT vec_id, s, code FROM (
    SELECT p.vec_id, p.s, c.code,
           row_number() OVER (
             PARTITION BY p.vec_id, p.s
             ORDER BY (list_dot_product(p.sv, p.sv)
                       - 2 * list_dot_product(p.sv, c.cv)
                       + list_dot_product(c.cv, c.cv)) ASC, c.code ASC
           ) AS rn
    FROM pqs p JOIN pqcb c ON p.s = c.s
  ) WHERE rn = 1
)"""


def _pq_lut_cte(n_queries: int) -> str:
    """The ADC lookup table CTE shared by :func:`pq_adc_sql` and
    :func:`ivf_pq_sql`: per (query, subspace, code) the query-subvector
    · codebook-entry dot — exact integers on grid inputs."""
    return f"""pqlut AS (
  SELECT q.vec_id AS query_id, c.s, c.code,
         list_dot_product(q.sv, c.cv) AS part
  FROM pqs q JOIN pqcb c ON q.s = c.s
  WHERE q.vec_id < {n_queries}
)"""


def _pq_topk_batch(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    *,
    k: int,
    m: int,
    dim: int,
    query_id_col: str,
    vec_col: str,
    candidates: DataFrame | None,
) -> DataFrame:
    """The ``scan='batch'`` body of :func:`pq_topk` — LUT collected
    driver-side (micro-batch-bounded), scoring as one distributed
    Arrow gather: per batch ``L[q, s, code]`` summed over the ``m``
    subspaces (exact integers on grid inputs, so identical to the
    rows-scan's per-pair SUM in any order)."""
    from pyspark.sql.types import ArrayType

    q_subs = pq_subvectors(
        queries, m=m, dim=dim, id_col=query_id_col, vec_col=vec_col
    ).select(F.col("id").alias("query_id"), "sub", F.col("sv").alias("qv"))
    lut_rows = (
        q_subs.join(codebooks.select("sub", "code", "cv"), "sub")
        .select(
            "query_id", "sub", "code",
            _dot_arrow(
                F.col("qv").cast("array<double>"),
                F.col("cv").cast("array<double>"),
            ).alias("part"),
        )
        .collect()  # bounded-collect: Q·m·n_codes LUT entries (micro-batch-sized by contract)
    )
    if not lut_rows:
        raise ValueError("pq_topk(scan='batch'): empty query LUT")
    qids: list = []
    qidx: dict = {}
    for r in lut_rows:
        if r["query_id"] not in qidx:
            qidx[r["query_id"]] = len(qids)
            qids.append(r["query_id"])
    n_code_axis = max(int(r["code"]) for r in lut_rows) + 1
    L = np.zeros((len(qids), m, n_code_axis), dtype=np.float64)
    for r in lut_rows:
        L[qidx[r["query_id"]], int(r["sub"]), int(r["code"])] = float(r["part"])
    marange = np.arange(m)

    if candidates is not None:
        qmap = qidx  # closure capture

        @F.pandas_udf(DoubleType())
        def _score(qid: pd.Series, carr: pd.Series) -> pd.Series:
            qi = qid.map(qmap).to_numpy(dtype=np.int64)
            # strict gather: a code outside the codebook raises loudly
            # (the documented contract) instead of silently mis-scoring
            CM = np.stack(carr.to_numpy()).astype(np.int64)
            return pd.Series(L[qi[:, None], marange[None, :], CM].sum(axis=1))

        scored = (
            candidates.select("query_id", "vec_id")
            .join(codes.select("vec_id", "codes"), "vec_id")
            .select(
                "query_id", "vec_id",
                _score(F.col("query_id"), F.col("codes")).alias("score"),
            )
            .where(F.col("vec_id") != F.col("query_id"))
        )
    else:

        @F.pandas_udf(ArrayType(DoubleType()))
        def _score_all(carr: pd.Series) -> pd.Series:
            CM = np.stack(carr.to_numpy()).astype(np.int64)
            G = L[:, marange[None, :], CM]  # (Q, B, m); out-of-codebook codes raise

            return pd.Series(list(G.sum(axis=2).T))

        qarr = F.array(*[F.lit(q) for q in qids])
        scored = (
            codes.select(
                "vec_id", F.posexplode(_score_all(F.col("codes"))).alias(
                    "qpos", "score"
                )
            )
            .select(
                F.element_at(qarr, F.col("qpos") + 1).alias("query_id"),
                "vec_id",
                "score",
            )
            .where(F.col("vec_id") != F.col("query_id"))
        )
    return _topk_rank(scored, "score", k)


def pq_codes_sql(
    vectors_sql: str,
    *,
    m: int,
    dim: int,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`pq_encode` over the ``fit='sample'``
    codebooks: identical subvector slicing (1-indexed ``list_slice``),
    the same three-dot squared-L2 distance, the same (dist ASC, code
    ASC) argmin — on 1e-6-grid integer inputs both engines compare the
    very same integers.  Emits ``(vec_id, codes_csv)``."""
    base = _pq_base_ctes(
        vectors_sql, m=m, dim=dim, n_codes=n_codes, id_col=id_col, vec_col=vec_col
    )
    return f"""
WITH {base}
SELECT vec_id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY s) AS codes_csv
FROM pqasg GROUP BY vec_id
"""


def pq_adc_sql(
    vectors_sql: str,
    *,
    m: int,
    dim: int,
    n_codes: int = 16,
    k: int = 5,
    n_queries: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`pq_topk` over the ``fit='sample'``
    codebooks, queries = ids < ``n_queries``: the identical LUT build
    (query-subvector · codebook dots), code-join scan, exact-integer
    score sum, and (score DESC, id ASC) ranking.  Emits
    ``(query_id, rank, vec_id, score)``."""
    base = _pq_base_ctes(
        vectors_sql, m=m, dim=dim, n_codes=n_codes, id_col=id_col, vec_col=vec_col
    )
    return f"""
WITH {base},
{_pq_lut_cte(n_queries)}
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, score FROM (
  SELECT l.query_id, a.vec_id, sum(l.part) AS score,
         row_number() OVER (
           PARTITION BY l.query_id
           ORDER BY sum(l.part) DESC, a.vec_id ASC
         ) AS rank
  FROM pqasg a JOIN pqlut l ON a.s = l.s AND a.code = l.code
  WHERE a.vec_id <> l.query_id
  GROUP BY l.query_id, a.vec_id
) WHERE rank <= {k}
"""


def ivf_pq_sql(
    vectors_sql: str,
    *,
    m: int,
    dim: int,
    n_codes: int = 16,
    n_centroids: int = 8,
    n_probe: int = 4,
    k: int = 5,
    n_queries: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of the FIXED-ARTIFACT :func:`ivf_pq_topk`
    composition (n_assign=1): coarse centroids = the RAW grid vectors
    of ids < ``n_centroids`` (unnormalized — every coarse dot is then
    an exact integer, so assignment, probe ranking, candidate set, and
    ADC scores are ALL class A with no rounding anywhere; the
    unit-centroid library default stays pytest-pinned), corpus argmax
    and per-query ``n_probe`` probes by (dot DESC, cent_id ASC), the
    candidate equi-join, and :func:`pq_adc_sql`'s scan restricted to
    the candidates.  Emits ``(query_id, rank, vec_id, score)``."""
    base = _pq_base_ctes(
        vectors_sql, m=m, dim=dim, n_codes=n_codes, id_col=id_col, vec_col=vec_col
    )
    return f"""
WITH {base},
{_pq_lut_cte(n_queries)},
ivfc AS (SELECT vec_id AS cent_id, ve AS cv FROM pqv WHERE vec_id < {n_centroids}),
ivfa AS (
  SELECT vec_id, cent_id FROM (
    SELECT p.vec_id, c.cent_id,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY list_dot_product(p.ve, c.cv) DESC, c.cent_id ASC
           ) AS rn
    FROM pqv p, ivfc c
  ) WHERE rn = 1
),
ivfp AS (
  SELECT query_id, cent_id FROM (
    SELECT q.vec_id AS query_id, c.cent_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.ve, c.cv) DESC, c.cent_id ASC
           ) AS rn
    FROM pqv q, ivfc c WHERE q.vec_id < {n_queries}
  ) WHERE rn <= {n_probe}
),
ivfcand AS (
  SELECT DISTINCT p.query_id, a.vec_id FROM ivfa a JOIN ivfp p USING (cent_id)
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, score FROM (
  SELECT l.query_id, a.vec_id, sum(l.part) AS score,
         row_number() OVER (
           PARTITION BY l.query_id
           ORDER BY sum(l.part) DESC, a.vec_id ASC
         ) AS rank
  FROM ivfcand cd
  JOIN pqasg a ON a.vec_id = cd.vec_id
  JOIN pqlut l ON l.query_id = cd.query_id AND a.s = l.s AND a.code = l.code
  WHERE a.vec_id <> l.query_id
  GROUP BY l.query_id, a.vec_id
) WHERE rank <= {k}
"""


def ivf_coarse_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    n_assign: int = 1,
    assign_round: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse IVF assignment ``(vec_id, cent_id)``: each vector's
    ``n_assign`` nearest centroids by dot product (against UNIT
    centroids the dot argmax equals the cosine argmax — |v| is
    row-constant), ties to the smaller ``cent_id``.  The shared
    index-build stage of :func:`ivf_pq_topk` and
    :func:`~pyspark_dist_explore_spark.sources.sinks.write_pq_index` —
    extracting it guarantees the landed inverted lists are bit-for-bit
    the lists the in-memory path would derive.

    Scale shape: ONE
    Arrow pass over the N vector rows, zero shuffle, zero joins — the
    centroids are collected driver-side (``n_centroids`` rows, the
    LSH-plane-literal precedent) into a numpy matrix, each Arrow batch
    runs one ``batch × n_centroids`` BLAS matmul, and a STABLE argsort
    over the descending sims picks the top ``n_assign`` cells (rows
    ordered by ascending ``cent_id``, so ties break to the smaller
    cell — the same (sim DESC, cent_id ASC) total order as the SQL
    twin; on grid-integer inputs every sim is an exact integer, so the
    matmul equals any fold bit for bit).  ``assign_round`` callers get
    the crossJoin → Arrow-pair-dot → argmax form instead
    (:func:`_ivf_coarse_assign_pairs`), whose HALF-UP rounding before
    the argmax lives in the Spark layer; it re-evaluates the vector
    expression per joined row (measured 66 s vs ~4 s for the
    100×-corpus index build behind an upstream rotation).
    ``n_assign>1`` replicates into the index size, never the probe
    cost."""
    if n_assign < 1:
        raise ValueError(f"n_assign must be >= 1, got {n_assign}")
    cents_df = _fixed_centroids(centroids)
    if assign_round is not None:
        return _ivf_coarse_assign_pairs(
            vectors, cents_df,
            n_assign=n_assign, assign_round=assign_round,
            id_col=id_col, vec_col=vec_col,
        )
    from pyspark.sql.types import ArrayType, LongType

    cent_rows = sorted(
        (int(r["cent_id"]), [float(x) for x in r["cv"]])
        for r in cents_df.collect()  # bounded-collect: n_centroids rows (model-sized)
    )
    if not cent_rows:
        raise ValueError("centroids frame is empty")
    cids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    C = np.array([cv for _, cv in cent_rows], dtype=np.float64)
    take = min(n_assign, len(cent_rows))

    @F.pandas_udf(ArrayType(LongType()))
    def _assign(v: pd.Series) -> pd.Series:
        V = np.stack(v.to_numpy()).astype(np.float64)
        S = V @ C.T
        # stable argsort on -S: ties keep ascending-cent_id row order
        top = np.argsort(-S, axis=1, kind="stable")[:, :take]
        return pd.Series(list(cids[top]))

    return vectors.select(
        F.col(id_col).alias("vec_id"),
        _assign(F.col(vec_col).cast("array<double>")).alias("__cells"),
    ).select("vec_id", F.explode("__cells").alias("cent_id"))


def _ivf_coarse_assign_pairs(
    vectors: DataFrame,
    cents_df: DataFrame,
    *,
    n_assign: int,
    assign_round: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The crossJoin form of :func:`ivf_coarse_assign`, kept for
    ``assign_round`` callers: Spark's HALF-UP ``F.round`` applies to
    every pair sim BEFORE the argmax (numpy's half-to-even would
    diverge on rounding boundaries, so this branch stays in the Spark
    expression layer).  Cost note: the vector-side expression re-runs
    per joined row — stage (checkpoint) any upstream rotation or
    normalization projection before calling at scale."""
    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vv"),
    )
    sim = F.round(_dot_arrow(F.col("vv"), F.col("cv")), assign_round)
    return _assign_cells(v, F.broadcast(cents_df), sim, n_assign)


def ivf_pq_topk(
    vectors: DataFrame | None,
    queries: DataFrame,
    *,
    k: int = 5,
    m: int,
    dim: int,
    n_codes: int = 16,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
    assignments: DataFrame | None = None,
    assign_round: int | None = None,
    scan: str = "rows",
) -> DataFrame:
    """IVF-PQ (X66): the full 100 TB serving shape — coarse inverted
    lists bound WHICH vectors each query touches (``n_probe`` of
    ``n_centroids`` lists, ``n_assign``-way replicated), product
    quantization bounds WHAT the scan reads per touched vector (``m``
    one-byte codes instead of ``dim`` floats).  Jégou et al. 2011's
    IVFADC, composed from the two operators this module already proves:
    candidate pairs from the IVF probe join, scored by
    :func:`pq_topk`'s ADC path via its ``candidates=`` hook (which
    restricts BEFORE scoring — the scan is |candidates|·m code rows).

    ``centroids=``/``codebooks=``/``codes=``/``assignments=`` accept
    prebuilt artifacts (the landed-index form — a production pipeline
    builds them once at index time with
    :func:`~pyspark_dist_explore_spark.sources.sinks.write_pq_index`);
    defaults fit nothing and derive everything from the corpus
    deterministically (unit embeddings of the first ``n_centroids``
    ids; ``fit='sample'`` codebooks), so the whole path is reproducible
    and, on 1e-6-grid inputs, engine-portable.  With ``assignments=``
    (a ``(vec_id, cent_id)`` frame — ``path/assign`` of a landed index,
    partitioned by ``cent_id`` so each probe prunes to the inverted-
    list directories it hits) the corpus vectors are NEVER touched:
    serving reads n_probe inverted lists + the m-byte code rows, the
    100 TB promise made literal.

    With ``n_probe == n_centroids`` AND a codebook containing every
    corpus subvector, the result equals the brute-force grid-dot
    ranking bit for bit (both operators' exactness invariants compose —
    pytest-pinned)."""
    if n_assign < 1:
        raise ValueError(f"n_assign must be >= 1, got {n_assign}")
    if vectors is None and (
        centroids is None or codebooks is None or codes is None or assignments is None
    ):
        raise ValueError(
            "vectors=None requires the full landed index: centroids, codebooks, "
            "codes AND assignments (see sinks.load_pq_index)"
        )
    # raw vectors against UNIT centroids: per vector the argmax (and per
    # query the probe ranking) over cosine equals the argmax over the
    # bare dot — |v| is row-constant — so the N·n_centroids pair stage
    # never re-derives a normalization (the 10×-probe hotspot: the
    # inlined _unit folds re-ran per crossJoin output row)
    if centroids is None:
        centroids = vectors.where(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"), _unit(F.col(vec_col)).alias("cv")
        )
    cents = F.broadcast(_fixed_centroids(centroids))
    if assignments is not None:
        assigned = assignments.select("vec_id", "cent_id")
    else:
        assigned = ivf_coarse_assign(
            vectors,
            cents,
            n_assign=n_assign,
            assign_round=assign_round,
            id_col=id_col,
            vec_col=vec_col,
        )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    probes = _probe_pick(
        q, cents, _round_to(_dot_arrow(F.col("qv"), F.col("cv")), assign_round), n_probe
    )
    cands = (
        assigned.join(F.broadcast(probes), "cent_id")
        .select("query_id", "vec_id")
        .distinct()
    )
    if codebooks is None:
        codebooks = pq_codebooks(
            vectors, m=m, dim=dim, n_codes=n_codes, id_col=id_col, vec_col=vec_col
        )
    if codes is None:
        codes = pq_encode(
            vectors, codebooks, m=m, dim=dim, id_col=id_col, vec_col=vec_col
        )
    return pq_topk(
        codes,
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("embedding")),
        codebooks,
        k=k,
        m=m,
        dim=dim,
        candidates=cands,
        scan=scan,
    )


# ---------------------------------------------------------------------------
# X69: residual-encoded IVFADC (Jégou et al. 2011, §III.C — "From vectors
# to codes": PQ quantizes r = x − q_c(x), the residual after the coarse
# quantizer, NOT the raw vector.  Residual energy is a fraction of raw
# energy on any clustered corpus, so the same m·log2(n_codes)-bit budget
# buys a far smaller reconstruction error — the standard recall lever the
# raw-space X66 composition lacks.)
# ---------------------------------------------------------------------------


def ivf_residuals(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse-assign each vector to its ``n_assign`` nearest centroids
    by SQUARED L2 (the paper's coarse quantizer — against RAW,
    unnormalized centroids the dot argmax is NOT a nearest-neighbor, so
    this family ranks by ``|c|² − 2·x·c`` ASC with ties to the smaller
    ``cent_id``; the row-constant ``|x|²`` term cannot move the argmin
    and is dropped) and emit ``(vec_id, cent_id, residual)`` rows with
    ``residual = x − c`` — the input PQ then quantizes.

    Scale shape: the :func:`ivf_coarse_assign` discipline — centroids
    collected driver-side (model-sized), ONE Arrow pass over the N
    vector rows (per batch: one BLAS matmul, stable argsort, one
    subtract), zero shuffle.  On 1e-6-grid integer inputs every
    distance is an exact integer and every residual component an exact
    integer difference, so assignment AND residuals are
    engine-portable.  ``n_assign>1`` emits one row per assigned cell,
    each with the residual AGAINST THAT CELL (index grows n_assign×,
    the X66 replication discipline)."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    if n_assign < 1:
        raise ValueError(f"n_assign must be >= 1, got {n_assign}")
    cent_rows = sorted(
        (int(r["cent_id"]), [float(x) for x in r["cv"]])
        for r in centroids.select("cent_id", "cv")
        .collect()  # bounded-collect: n_centroids rows (model-sized)
    )
    if not cent_rows:
        raise ValueError("centroids frame is empty")
    cids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    C = np.array([cv for _, cv in cent_rows], dtype=np.float64)
    csq = np.einsum("ij,ij->i", C, C)
    take = min(n_assign, len(cent_rows))
    out_t = StructType(
        [
            StructField("cents", ArrayType(LongType())),
            StructField("resids", ArrayType(ArrayType(DoubleType()))),
        ]
    )

    @F.pandas_udf(out_t)
    def _resid(v: pd.Series) -> pd.DataFrame:
        V = np.stack(v.to_numpy()).astype(np.float64)
        if V.shape[1] != C.shape[1]:
            raise ValueError(
                f"ivf_residuals: vector dim {V.shape[1]} != centroid dim "
                f"{C.shape[1]}"
            )
        D = csq - 2.0 * (V @ C.T)
        # stable argsort: ties keep ascending-cent_id row order
        top = np.argsort(D, axis=1, kind="stable")[:, :take]
        cents = [cids[t] for t in top]
        resids = [[list(V[i] - C[j]) for j in t] for i, t in enumerate(top)]
        return pd.DataFrame({"cents": cents, "resids": resids})

    packed = vectors.select(
        F.col(id_col).alias("vec_id"),
        _resid(F.col(vec_col).cast("array<double>")).alias("p"),
    )
    return packed.select(
        "vec_id", F.explode(F.arrays_zip("p.cents", "p.resids")).alias("z")
    ).select(
        "vec_id",
        F.col("z.cents").alias("cent_id"),
        F.col("z.resids").alias("residual"),
    )


def pq_residual_codebooks(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    m: int,
    dim: int,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit: str = "sample",
    fit_sample_mod: int | None = 4,
    max_fit_rows: int | None = 1 << 18,
) -> DataFrame:
    """PQ codebooks fit on coarse RESIDUALS (``x − c(x)``, primary
    assignment only): :func:`ivf_residuals` feeds :func:`pq_codebooks`
    unchanged — ``fit='sample'`` keeps the deterministic
    SQL-expressible form (residual subvectors of ids < ``n_codes``),
    ``fit='kmeans'`` runs the seeded capped per-subspace fits on the
    residual cloud (the paper's recipe)."""
    resid = ivf_residuals(
        vectors, centroids, n_assign=1, id_col=id_col, vec_col=vec_col
    )
    return pq_codebooks(
        resid,
        m=m,
        dim=dim,
        n_codes=n_codes,
        id_col="vec_id",
        vec_col="residual",
        fit=fit,
        fit_sample_mod=fit_sample_mod,
        max_fit_rows=max_fit_rows,
    )


def ivf_pq_residual_topk(
    vectors: DataFrame | None,
    queries: DataFrame,
    *,
    k: int = 5,
    m: int,
    dim: int,
    n_codes: int = 16,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    enc: DataFrame | None = None,
) -> DataFrame:
    """Residual IVFADC serving (X69): coarse lists bound WHICH vectors
    a query touches, PQ over the RESIDUAL ``x − c`` bounds what the
    scan reads — and the score decomposes exactly as
    ``q·x̂ = q·(c + r̂) = q·c + Σ_sub q·cv[code]``: the first term is
    the probe-stage centroid dot (already computed to rank the lists,
    reused for free), the second the standard broadcast-LUT ADC sum
    over residual codebooks.  The query is never residualized — ADC is
    asymmetric by construction.

    Defaults are fully deterministic (centroids = RAW grid embeddings
    of the first ``n_centroids`` ids — unnormalized, so residuals stay
    ON the 1e-6 grid and every distance/score is an exact integer;
    ``fit='sample'`` residual codebooks); ``centroids=`` /
    ``codebooks=`` / ``enc=`` (a ``(vec_id, cent_id, codes)`` frame
    from :func:`ivf_residuals` + :func:`pq_encode(keep=('cent_id',))`)
    accept prebuilt landed artifacts.  Probe ranking is by squared L2
    ASC (``|c|² − 2·q·c``), ties to the smaller ``cent_id`` — the
    paper's coarse metric, shared with the assignment side.

    Exactness invariant (pytest-pinned): with ``n_probe ==
    n_centroids`` and a codebook containing every corpus residual
    subvector, ``r̂ = r`` so the score equals the exact grid dot bit
    for bit.  Output ``(query_id, rank, vec_id, score)``."""
    if n_assign < 1:
        raise ValueError(f"n_assign must be >= 1, got {n_assign}")
    if vectors is None and (centroids is None or codebooks is None or enc is None):
        raise ValueError(
            "vectors=None requires the full landed residual index: "
            "centroids, codebooks AND enc"
        )
    if centroids is None:
        centroids = vectors.where(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
    cents = F.broadcast(
        centroids.select(
            "cent_id",
            F.col("cv").cast("array<double>").alias("cv"),
            dot(F.col("cv"), F.col("cv")).alias("csq"),
        )
    )
    if codebooks is None:
        codebooks = pq_residual_codebooks(
            vectors, cents.select("cent_id", "cv"),
            m=m, dim=dim, n_codes=n_codes, id_col=id_col, vec_col=vec_col,
        )
    if enc is None:
        resid = ivf_residuals(
            vectors, cents.select("cent_id", "cv"),
            n_assign=n_assign, id_col=id_col, vec_col=vec_col,
        )
        enc = pq_encode(
            resid, codebooks, m=m, dim=dim,
            id_col="vec_id", vec_col="residual", keep=("cent_id",),
        )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    # probe: nearest lists by squared L2 (|q|² row-constant dropped),
    # ties to the smaller cent_id; qc = q·c rides along — it is the
    # score's coarse term
    pairs = (
        q.crossJoin(cents)
        .select(
            "query_id",
            "cent_id",
            _dot_arrow(F.col("qv"), F.col("cv")).alias("qc"),
            "csq",
        )
        .select(
            "query_id", "cent_id", "qc",
            (F.col("csq") - 2 * F.col("qc")).alias("d2"),
        )
    )
    probes = _first_per_query(
        pairs, n_probe, F.col("d2").asc(), F.col("cent_id").asc()
    ).select("query_id", "cent_id", "qc")
    # per-(query, subspace, code) residual-codebook LUT — broadcast,
    # Q·m·n_codes rows
    q_subs = pq_subvectors(
        q, m=m, dim=dim, id_col="query_id", vec_col="qv"
    ).select(F.col("id").alias("query_id"), "sub", F.col("sv").alias("qsv"))
    lut = F.broadcast(
        q_subs.join(codebooks.select("sub", "code", "cv"), "sub").select(
            "query_id", "sub", "code", dot(F.col("qsv"), F.col("cv")).alias("part")
        )
    )
    # candidates restrict BEFORE scoring (the pq_topk discipline); the
    # probe frame is Q·n_probe rows — broadcast
    exploded = enc.select(
        "vec_id", "cent_id", F.posexplode("codes").alias("sub", "code")
    )
    scored = (
        exploded.join(F.broadcast(probes), "cent_id")
        .join(lut, ["query_id", "sub", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id", "cent_id", "qc")
        .agg(F.sum("part").alias("rpart"))
        .select(
            "query_id", "vec_id", (F.col("qc") + F.col("rpart")).alias("score")
        )
    )
    if n_assign > 1:
        # a vector replicated into several probed lists scores once per
        # copy (each against ITS residual); keep the best reconstruction
        scored = scored.groupBy("query_id", "vec_id").agg(
            F.max("score").alias("score")
        )
    return _topk_rank(scored, "score", k)


def ivf_pq_residual_sql(
    vectors_sql: str,
    *,
    m: int,
    dim: int,
    n_codes: int = 16,
    n_centroids: int = 8,
    n_probe: int = 4,
    k: int = 5,
    n_queries: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of the fixed-artifact :func:`ivf_pq_residual_topk`
    composition (``n_assign=1``): RAW grid centroids (ids <
    ``n_centroids``), squared-L2 coarse assignment and probe ranking
    (``|c|² − 2·x·c`` ASC, ``cent_id`` ASC), elementwise residuals,
    ``fit='sample'`` residual codebooks (residual subvectors of ids <
    ``n_codes``), the three-dot argmin encode, and the decomposed score
    ``q·c + Σ q·cv`` over probed candidates.  On 1e-6-grid inputs
    every intermediate is an exact integer — class A end-to-end.
    Emits ``(query_id, rank, vec_id, score)``."""
    if m < 1 or dim % m != 0:
        raise ValueError(f"dim ({dim}) must be a positive multiple of m ({m})")
    d0 = dim // m
    return f"""
WITH rv AS (SELECT {id_col} AS vec_id, {vec_col} AS ve FROM ({vectors_sql})),
rivfc AS (
  SELECT vec_id AS cent_id, ve AS cv, list_dot_product(ve, ve) AS csq
  FROM rv WHERE vec_id < {n_centroids}
),
rivfa AS (
  SELECT vec_id, cent_id FROM (
    SELECT p.vec_id, c.cent_id,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY (c.csq - 2 * list_dot_product(p.ve, c.cv)) ASC,
                      c.cent_id ASC
           ) AS rn
    FROM rv p, rivfc c
  ) WHERE rn = 1
),
rres AS (
  SELECT p.vec_id, a.cent_id,
         list_transform(generate_series(1, {dim}), i -> p.ve[i] - c.cv[i]) AS rr
  FROM rv p JOIN rivfa a USING (vec_id) JOIN rivfc c USING (cent_id)
),
rsub AS (
  SELECT vec_id, cent_id, s,
         list_slice(rr, s * {d0} + 1, (s + 1) * {d0}) AS sv
  FROM rres, (SELECT unnest(generate_series(0, {m - 1})) AS s) ss
),
rcb AS (SELECT s, CAST(vec_id AS INT) AS code, sv AS cv FROM rsub WHERE vec_id < {n_codes}),
rasg AS (
  SELECT vec_id, cent_id, s, code FROM (
    SELECT p.vec_id, p.cent_id, p.s, c.code,
           row_number() OVER (
             PARTITION BY p.vec_id, p.s
             ORDER BY (list_dot_product(p.sv, p.sv)
                       - 2 * list_dot_product(p.sv, c.cv)
                       + list_dot_product(c.cv, c.cv)) ASC, c.code ASC
           ) AS rn
    FROM rsub p JOIN rcb c ON p.s = c.s
  ) WHERE rn = 1
),
rqsub AS (
  SELECT vec_id AS query_id, s, list_slice(ve, s * {d0} + 1, (s + 1) * {d0}) AS sv
  FROM rv, (SELECT unnest(generate_series(0, {m - 1})) AS s) ss
  WHERE vec_id < {n_queries}
),
rlut AS (
  SELECT q.query_id, c.s, c.code, list_dot_product(q.sv, c.cv) AS part
  FROM rqsub q JOIN rcb c ON q.s = c.s
),
rivfp AS (
  SELECT query_id, cent_id, qc FROM (
    SELECT q.vec_id AS query_id, c.cent_id,
           list_dot_product(q.ve, c.cv) AS qc,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY (c.csq - 2 * list_dot_product(q.ve, c.cv)) ASC,
                      c.cent_id ASC
           ) AS rn
    FROM rv q, rivfc c WHERE q.vec_id < {n_queries}
  ) WHERE rn <= {n_probe}
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, score FROM (
  SELECT p.query_id, a.vec_id, any_value(p.qc) + sum(l.part) AS score,
         row_number() OVER (
           PARTITION BY p.query_id
           ORDER BY any_value(p.qc) + sum(l.part) DESC, a.vec_id ASC
         ) AS rank
  FROM rasg a
  JOIN rivfp p ON a.cent_id = p.cent_id
  JOIN rlut l ON l.query_id = p.query_id AND a.s = l.s AND a.code = l.code
  WHERE a.vec_id <> p.query_id
  GROUP BY p.query_id, a.vec_id
) WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# X73: hard-negative mining for contrastive training
# ---------------------------------------------------------------------------


def mine_hard_negatives(
    vectors: DataFrame,
    anchors: DataFrame,
    *,
    k: int = 5,
    dup_threshold: float = 0.95,
    floor: float | None = None,
    route: str = "exact",
    oversample: int = 4,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scores: DataFrame | None = None,
) -> DataFrame:
    """Mine HARD NEGATIVES for contrastive/embedding training: per
    anchor, the ``k`` most-similar corpus vectors whose cosine stays
    BELOW ``dup_threshold`` — near the decision boundary (hard) but not
    plausibly the same item (negative).  In-batch/random negatives are
    trivially separable; retrieval encoders train on exactly this band
    (the public DPR/ANCE/SimCSE recipe: "top-ranked non-positives from
    the current index").  ``floor=`` optionally drops easy negatives
    below a minimum cosine, leaving the band ``[floor, dup_threshold)``.

    ``route='exact'`` scores every (anchor, vector) pair — the
    ground-truth form, anchor-count-bounded (anchors are broadcast; the
    corpus is scanned once per batch of anchors).  ``route='ivf'`` runs
    :func:`ivf_topk` with ``k·oversample`` candidates first and applies
    the band filter to that probe-bounded set — the corpus-scale form;
    it may return FEWER than ``k`` per anchor when the probed lists
    hold too few in-band vectors (raise ``oversample``/``n_probe``);
    recall vs the exact route is pytest-pinned.

    Deterministic: rounded-@6 cosine, (cos DESC, vec_id ASC) rank, no
    RNG.  Output ``(query_id, rank, vec_id, cos_sim)`` — the same shape
    as :func:`exact_topk`, so the pair table feeds
    :func:`~pyspark_dist_explore_spark.operators.sampling.
    sample_negatives`-style batch builders directly.

    ``scores=`` (``route='exact'`` only): a precomputed
    :func:`exact_scores` grid — the band filter + ranking consume it
    instead of re-scoring, so a caller that also ranks
    :func:`exact_topk` over the same (anchors, corpus) stages the grid
    once and pays the scoring pass once."""
    if route not in ("exact", "ivf"):
        raise ValueError(f"route must be 'exact' or 'ivf', got {route!r}")
    if floor is not None and floor >= dup_threshold:
        raise ValueError(
            f"floor ({floor}) must be < dup_threshold ({dup_threshold})"
        )
    if scores is not None and route != "exact":
        raise ValueError("scores= is only meaningful with route='exact'")
    if route == "exact":
        scored = (
            exact_scores(
                vectors,
                anchors,
                id_col=id_col,
                vec_col=vec_col,
                query_id_col=query_id_col,
            )
            if scores is None
            else scores
        )
    else:
        scored = ivf_topk(
            vectors,
            anchors,
            k=k * oversample,
            n_centroids=n_centroids,
            n_probe=n_probe,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
        ).select("query_id", "vec_id", "cos_sim")
    band = scored.where(F.col("cos_sim") < dup_threshold)
    if floor is not None:
        band = band.where(F.col("cos_sim") >= floor)
    return _topk_rank(band, "cos_sim", k)
