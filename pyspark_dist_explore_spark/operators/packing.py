"""Sequence packing (training-batch shaping): assign documents to fixed
token-budget "packs" (context windows) so short documents share a
sequence instead of wasting pad tokens.

Exact greedy packing is inherently sequential, so the operator shards
the corpus into ``buckets`` deterministic md5 buckets first (the same
engine-portable hex-bucket scheme as ``sampling.hash_split``) and packs
WITHIN each bucket — embarrassingly parallel, reproducible, and at 1000+
buckets the per-bucket sequential work is tiny even at 100 TB.  Two
modes per bucket:

- ``cumsum`` (default): ``pack = floor(exclusive_running_tokens /
  max_tokens)`` over docs ordered by id — pure window SQL (one
  shuffle+sort by bucket), DuckDB-oracle-checkable.  A document that
  straddles a boundary lands in the pack where its cumsum started, so a
  pack may overflow by at most one document (< 2× budget when docs are
  ≤ budget); trainers that truncate-at-boundary accept exactly this.
- ``greedy``: first-fit-by-order inside an ``applyInPandas`` per-bucket
  group — a document that would overflow CLOSES the pack and starts the
  next, so every pack is strictly ≤ ``max_tokens`` (oversize documents
  get a solo pack, flagged).  Same one shuffle; the Python work is a
  linear scan per bucket over (id, count) pairs only — text never
  enters the UDF.
- ``ffd`` (X62): FIRST-FIT-DECREASING bin packing per bucket — docs
  sorted (n_tokens DESC, doc_id ASC), each placed into the lowest-id
  open pack it fits, else a new pack.  The classic 11/9·OPT+1 bound;
  in practice it closes most of greedy's fragmentation (big docs grab
  fresh packs first, the small-doc tail backfills their gaps) at the
  cost of losing doc-id adjacency inside a pack.  Every pack strictly
  ≤ ``max_tokens`` like greedy; same one shuffle, same counts-only
  UDF; fill-rate gain is pinned by a ``packing_efficiency`` A/B test.
  Per-bucket cost is O(n·open_packs) (a vectorized numpy scan per doc)
  vs greedy's O(n) — at very large corpora raise ``buckets`` until the
  per-bucket doc count is heap-friendly (the same knob that bounds the
  sequential work of the other modes).

Output in all modes: ``(doc_id, n_tokens, bucket, pack_id, oversize)``
with ``pack_id`` unique across buckets (``bucket * 2^40 + local``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from pyspark_dist_explore_spark.operators import dedup
from pyspark_dist_explore_spark.operators.sampling import _shard16, _shard16_sql

#: bucket·2^40 keeps pack_id collision-free while staying far from the
#: BIGINT ceiling (buckets < 2^22, packs-per-bucket < 2^40)
_PACK_STRIDE = 1 << 40

_PACK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("bucket", IntegerType()),
        StructField("pack_id", LongType()),
        StructField("oversize", IntegerType()),
    ]
)


def _bucket_expr(id_col: str, buckets: int):
    """Deterministic engine-portable bucket: the 16-bit md5 shard pick of
    the id (:func:`~.sampling._shard16`, which bounds ``buckets`` to
    [1, 65536]); :func:`_bucket_sql` is the DuckDB rendering."""
    return _shard16(F.md5(F.col(id_col).cast("string")), buckets)


def _bucket_sql(id_expr: str, buckets: int) -> str:
    """DuckDB rendering of :func:`_bucket_expr`."""
    return _shard16_sql(f"md5(CAST({id_expr} AS VARCHAR))", buckets)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    *,
    token_count_col: str | None = None,
    text_col: str | None = None,
    max_tokens: int = 2048,
    buckets: int = 32,
    mode: str = "cumsum",
) -> DataFrame:
    """Pack documents into ≤ ``max_tokens`` sequences (see module doc).

    Provide EITHER ``token_count_col`` (precomputed counts — the normal
    path when stats already ran) or ``text_col`` (whitespace token count
    of the normalized text is computed inline, same expression as
    ``textstats.text_stats``).
    """
    if mode not in ("cumsum", "greedy", "ffd"):
        raise ValueError(f"mode must be 'cumsum', 'greedy', or 'ffd', got {mode!r}")
    if (token_count_col is None) == (text_col is None):
        raise ValueError("provide exactly one of token_count_col / text_col")
    if token_count_col is not None:
        n_tokens = F.col(token_count_col).cast("bigint")
    else:
        n_tokens = dedup.n_tokens(F.col(text_col))
    # ids must be non-null and bigint-castable: a non-numeric string id
    # would otherwise become NULL (non-ANSI) or raise a bare CAST error
    # (ANSI), collapsing ordering/dedup of the output or burying the
    # cause — fail the JOB with a named error instead (try_cast gives
    # NULL in BOTH modes; assert_true evaluates per row inside the same
    # projection and its NULL result gates the value)
    casted_id = F.col(id_col).try_cast("bigint")
    checked_id = F.when(
        F.assert_true(
            casted_id.isNotNull(),
            F.concat(
                F.lit(f"pack_sequences: id_col {id_col!r} value "),
                F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
                F.lit(" is not castable to a non-null bigint"),
            ),
        ).isNull(),
        casted_id,
    )
    base = df.select(
        checked_id.alias("doc_id"),
        n_tokens.alias("n_tokens"),
        _bucket_expr(id_col, buckets).alias("bucket"),
    )

    if mode == "cumsum":
        w = (
            Window.partitionBy("bucket")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        pre = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
        return base.select(
            "doc_id",
            "n_tokens",
            "bucket",
            (
                F.col("bucket").cast("bigint") * F.lit(_PACK_STRIDE)
                + F.floor(pre / F.lit(max_tokens)).cast("bigint")
            ).alias("pack_id"),
            (F.col("n_tokens") > max_tokens).cast("int").alias("oversize"),
        )

    def greedy(key, pdf):
        import pandas as pd

        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bucket = int(key[0])
        packs, oversize = [], []
        cur, pid = 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if n > max_tokens:
                if cur > 0:
                    pid += 1  # close the open pack; the giant doc rides alone
                packs.append(pid)
                oversize.append(1)
                pid += 1
                cur = 0
            else:
                if cur + n > max_tokens:
                    pid += 1
                    cur = 0
                packs.append(pid)
                oversize.append(0)
                cur += n
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_tokens": pdf["n_tokens"].astype("int64"),
                "bucket": bucket,
                "pack_id": [bucket * _PACK_STRIDE + p for p in packs],
                "oversize": oversize,
            }
        )
        return out

    if mode == "greedy":
        return base.groupBy("bucket").applyInPandas(greedy, schema=_PACK_SCHEMA)

    def ffd(key, pdf):
        import numpy as np
        import pandas as pd

        # (n_tokens DESC, doc_id ASC): the decreasing order FFD needs,
        # with the id tie-break making placement a pure function of the
        # bucket's contents — partitioning-independent, engine-replayable
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        bucket = int(key[0])
        sizes = pdf["n_tokens"].to_numpy()
        packs = np.empty(len(sizes), dtype=np.int64)
        oversize = np.zeros(len(sizes), dtype=np.int64)
        # remaining capacity per open pack, index == local pack id; the
        # first-fit scan is a vectorized argmax over the fits mask —
        # sorted-desc input keeps the open-pack list short in practice
        caps = np.empty(len(sizes), dtype=np.int64)
        n_packs = 0
        for i, n in enumerate(sizes):
            n = int(n)
            if n > max_tokens:
                # giant doc rides alone; capacity 0 so nothing backfills
                packs[i] = n_packs
                oversize[i] = 1
                caps[n_packs] = 0
                n_packs += 1
                continue
            fits = caps[:n_packs] >= n
            if fits.any():
                p = int(np.argmax(fits))  # FIRST (lowest-id) fitting pack
            else:
                p = n_packs
                caps[p] = max_tokens
                n_packs += 1
            packs[i] = p
            caps[p] -= n
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_tokens": pdf["n_tokens"].astype("int64"),
                "bucket": bucket,
                "pack_id": bucket * _PACK_STRIDE + packs,
                "oversize": oversize,
            }
        )

    return base.groupBy("bucket").applyInPandas(ffd, schema=_PACK_SCHEMA)


def _greedy_nn_order(
    base: DataFrame,
    vectors: DataFrame,
    *,
    vec_id_col: str,
    vec_col: str,
    max_domain_rows: int,
) -> DataFrame:
    """Replace ``__rp1`` with the greedy nearest-neighbor CHAIN RANK
    inside each domain (X50 ``order='greedy_nn'``): start at the
    smallest doc id, repeatedly hop to the unvisited max-cosine
    neighbor (smaller id on ties).  One ``applyInPandas`` group per
    domain over (id, unit vector) — O(n²) dots per domain, guarded by
    ``max_domain_rows``.  Docs without vectors (domain missing_domain /
    NULL ``__rp1``) keep NULL and sort last, as in the JL order."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType as _D,
        LongType as _L,
        StructField as _SF,
        StructType as _ST,
    )

    from pyspark_dist_explore_spark.operators.similarity import _unit

    vecs = vectors.select(
        F.col(vec_id_col).alias("__vid2"), _unit(F.col(vec_col)).alias("__uv")
    )
    joined = base.join(vecs, base["doc_id"] == vecs["__vid2"], "left").select(
        "doc_id", "n_tokens", "domain", "__uv"
    )
    schema = _ST(
        [
            _SF("doc_id", _L()),
            _SF("n_tokens", _L()),
            _SF("domain", _L()),
            _SF("__rp1", _D()),
        ]
    )

    def chain(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        has_vec = pdf["__uv"].notna()
        out = pdf[["doc_id", "n_tokens", "domain"]].copy()
        out["__rp1"] = np.nan  # vectorless rows sort last (nulls last)
        sub = pdf[has_vec]
        n = len(sub)
        if n > max_domain_rows:
            raise ValueError(
                f"pack_related_documents(order='greedy_nn'): domain "
                f"{key[0]!r} holds {n} rows past max_domain_rows="
                f"{max_domain_rows} — the greedy chain is O(n²) per "
                "domain; raise n_domains (split the domain) or the guard"
            )
        if n:
            ids = sub["doc_id"].to_numpy()
            order = np.argsort(ids)  # deterministic start + tie layout
            V = np.stack(sub["__uv"].to_numpy())[order]
            ids = ids[order]
            visited = np.zeros(n, dtype=bool)
            cur = 0  # smallest id
            rank = {ids[0]: 0}
            visited[0] = True
            for step in range(1, n):
                sims = V @ V[cur]
                sims[visited] = -np.inf
                # max cosine, smaller id on ties: ids are ascending, so
                # argmax returns the first (smallest-id) maximum
                cur = int(np.argmax(sims))
                visited[cur] = True
                rank[ids[cur]] = float(step)
            out.loc[has_vec, "__rp1"] = out.loc[has_vec, "doc_id"].map(rank)
        return out

    return joined.groupBy("domain").applyInPandas(chain, schema=schema)


def packing_efficiency(
    packed: DataFrame,
    max_tokens: int,
    *,
    group_col: str | None = None,
) -> DataFrame:
    """The PACKING AUDIT CARD — the numbers a trainer tunes
    ``max_tokens`` (and the packing mode) by: per group (``group_col``,
    e.g. the cumsum ``bucket`` or X50 ``domain``; one ``''`` row when
    None):

    ``(group, n_docs, n_packs, n_oversize, total_tokens, capacity,
    waste_tokens, fill_num, fill_den)`` — all exact BIGINTs (class A).
    ``capacity = n_packs · max_tokens`` counts only non-oversize docs'
    packs' budget; ``waste = capacity − packed_tokens`` is the padding
    a dataloader would burn; ``fill_num/fill_den`` is the fill rate as
    an exact rational (``packed_tokens / capacity``) — divide at the
    edge, not in the engine (the ORACLES.md class-A rule).  Oversize
    docs (> max_tokens alone) are EXCLUDED from capacity/waste — they
    ride solo whatever the budget — and reported in ``n_oversize`` +
    ``oversize_tokens``.  Under cumsum packing, ``waste_tokens`` can go
    mildly NEGATIVE: the cumsum boundary lets one doc overflow each
    pack's budget (the documented mode semantics), so a group can pack
    more regular tokens than ``n_packs · max_tokens``; greedy mode is
    strictly ≤ budget and its waste is always ≥ 0.

    Input: any :func:`pack_sequences` / :func:`pack_related_documents`
    output (``doc_id, n_tokens, pack_id, oversize``).  TWO group-sized
    aggregates (pack rollup → group rollup), no joins, no Python.
    """
    g = (
        F.coalesce(F.col(group_col).cast("string"), F.lit(""))
        if group_col is not None
        else F.lit("")
    )
    per_pack = (
        packed.select(
            g.alias("group"),
            "pack_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("oversize").cast("int").alias("oversize"),
        )
        .groupBy("group", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum(F.when(F.col("oversize") == 0, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tok"),
            F.sum(F.when(F.col("oversize") == 1, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("otok"),
            F.sum("oversize").cast("bigint").alias("over"),
            F.max((F.col("oversize") == 0).cast("int")).alias("has_regular"),
        )
    )
    cap = F.sum(F.col("has_regular").cast("bigint")) * F.lit(max_tokens)
    return per_pack.groupBy("group").agg(
        F.sum("docs").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_packs"),
        F.sum("over").cast("bigint").alias("n_oversize"),
        (F.sum("tok") + F.sum("otok")).cast("bigint").alias("total_tokens"),
        F.sum("otok").cast("bigint").alias("oversize_tokens"),
        cap.cast("bigint").alias("capacity"),
        (cap - F.sum("tok")).cast("bigint").alias("waste_tokens"),
        F.sum("tok").cast("bigint").alias("fill_num"),
        cap.cast("bigint").alias("fill_den"),
    )


def packing_efficiency_sql(
    src: str, max_tokens: int, *, group_col: str | None = None
) -> str:
    """DuckDB twin of :func:`packing_efficiency` — ``src`` must yield
    ``(doc_id, n_tokens, pack_id, oversize[, group])``."""
    g = (
        f"COALESCE(CAST({group_col} AS VARCHAR), '')"
        if group_col is not None
        else "''"
    )
    return f"""
WITH pe_p AS (
  SELECT {g} AS "group", pack_id,
         CAST(count(*) AS BIGINT) AS docs,
         CAST(SUM(CASE WHEN oversize = 0 THEN n_tokens ELSE 0 END) AS BIGINT) AS tok,
         CAST(SUM(CASE WHEN oversize = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS otok,
         CAST(SUM(oversize) AS BIGINT) AS over,
         MAX(CASE WHEN oversize = 0 THEN 1 ELSE 0 END) AS has_regular
  FROM ({src}) z GROUP BY 1, 2
)
SELECT "group",
       CAST(SUM(docs) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_packs,
       CAST(SUM(over) AS BIGINT) AS n_oversize,
       CAST(SUM(tok) + SUM(otok) AS BIGINT) AS total_tokens,
       CAST(SUM(otok) AS BIGINT) AS oversize_tokens,
       CAST(SUM(has_regular) * {max_tokens} AS BIGINT) AS capacity,
       CAST(SUM(has_regular) * {max_tokens} - SUM(tok) AS BIGINT) AS waste_tokens,
       CAST(SUM(tok) AS BIGINT) AS fill_num,
       CAST(SUM(has_regular) * {max_tokens} AS BIGINT) AS fill_den
FROM pe_p GROUP BY 1"""


def pack_related_documents(
    docs: DataFrame,
    vectors: DataFrame,
    id_col: str = "doc_id",
    *,
    token_count_col: str | None = None,
    text_col: str | None = None,
    max_tokens: int = 2048,
    centroids: DataFrame | None = None,
    n_domains: int = 16,
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_round: int | None = None,
    hash_fn: str = "xxhash64",
    dim: int | None = None,
    missing_domain: int = -1,
    fit_sample_mod: int | None = 4,
    max_fit_rows: int | None = 1 << 18,
    order: str = "rp",
    max_domain_rows: int = 1 << 20,
) -> DataFrame:
    """X50: SEMANTIC-LOCALITY packing — the in-context-pretraining
    recipe (Shi et al. 2023, "In-Context Pretraining", arXiv:
    2310.10638): pack RELATED documents into the same context window
    instead of random neighbors, so the model sees coherent long-range
    context.  Output ``(doc_id, n_tokens, domain, pack_id, oversize)``.

    The Spark-first deterministic construction (the exact greedy
    nearest-neighbor path of the paper is a sequential traveling-
    salesman walk — not a bounded-state distributed operator):

    1. coarse RELATEDNESS via :func:`~pyspark_dist_explore_spark.
       operators.similarity.assign_domains` (X47) — fixed centroids
       make the whole chain deterministic and oracle-checkable;
    2. WITHIN-domain semantic ordering by the first Johnson-
       Lindenstrauss component (X34 :func:`~pyspark_dist_explore_spark.
       operators.similarity.random_projection`, the shared LSH plane
       family): a 1-D locality-sensitive ordering — nearby embeddings
       get nearby sort keys, so consecutive docs in the pack order are
       likely neighbors — with ``(rp1, id)`` as the deterministic total
       order;
    3. the cumsum pack window of :func:`pack_sequences` partitioned by
       domain: exclusive running token sum → floor-division pack ids.

    Docs WITHOUT an embedding land in the ``missing_domain`` partition
    (packed together at the domain order's end, NULL rp keys last) —
    the output is total, nothing is dropped.  ``vec_id`` must be unique
    in ``vectors`` (a duplicated id would fan the doc out through the
    label join), the snapshot contract shared with ``corpus_diff``.

    ``order='greedy_nn'`` (opt-in) replaces the JL ordering with the
    paper-faithful greedy nearest-neighbor CHAIN inside each domain
    (start at the smallest id, repeatedly hop to the unvisited
    max-cosine neighbor, smaller-id tie-break): better within-pack
    coherence at O(|domain|²) dot products per domain — one Arrow group
    per domain, guarded by ``max_domain_rows`` (the
    cosine_neardup_pairs guard convention: raise ``n_domains`` when a
    domain trips it).  The default ``'rp'`` JL order is the 100 TB
    path: row-local, no quadratic surface, no Python.

    Scale shape: one vectors-sized aggregate (the X47 broadcast-argmax,
    payload-free buffer) + one row-local projection, one id equi-join
    of the two vector-derived frames, one docs⋈labels equi-join, and
    ONE rank-window exchange partitioned by domain (the cap_per_key
    shape).  Skew lever: domains are the window partitions — size
    ``n_domains`` so the largest domain fits a task (KMeans cells are
    usually balanced; a pathological hot domain is re-split by raising
    ``n_domains``, the SemDeDup guard story).  At 100 TB bucket docs
    and vectors by the id to elide both equi-join shuffles.
    """
    from pyspark_dist_explore_spark.operators.similarity import (
        assign_domains,
        random_projection_exprs,
    )

    if (token_count_col is None) == (text_col is None):
        raise ValueError("provide exactly one of token_count_col / text_col")
    if token_count_col is not None:
        n_tokens = F.col(token_count_col).cast("bigint")
    else:
        n_tokens = dedup.n_tokens(F.col(text_col))

    if order not in ("rp", "greedy_nn"):
        raise ValueError(f"order must be 'rp' or 'greedy_nn', got {order!r}")
    # r15 opt (guide §2.4): the JL order key is a row-local function of
    # the same vectors the domain assignment aggregates — compute it in
    # the SAME projection and carry it through the assignment's
    # ``keep=`` instead of building a second vectors-derived frame and
    # equi-joining it back by id (the join shuffled both N-row sides).
    # Identical key values by construction (same random_projection
    # arithmetic, evaluated once per row before the centroid
    # replication); pinned by test_pack_related_rp_key_rides_assignment.
    rp1_expr = random_projection_exprs(
        F.col(vec_col), out_dim=1, hash_fn=hash_fn, dim=dim, scale=False
    )[0]
    dom = assign_domains(
        vectors.select(
            F.col(vec_id_col), F.col(vec_col), rp1_expr.alias("__rp1")
        ),
        centroids,
        n_domains=n_domains,
        id_col=vec_id_col,
        vec_col=vec_col,
        assign_round=assign_round,
        fit_sample_mod=fit_sample_mod,
        max_fit_rows=max_fit_rows,
        keep=("__rp1",),
    )
    meta = dom.select(F.col(vec_id_col).alias("__vid"), "domain", "__rp1")
    base = (
        docs.select(F.col(id_col).alias("doc_id"), n_tokens.alias("n_tokens"))
        .join(meta, F.col("doc_id") == F.col("__vid"), "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("domain"), F.lit(missing_domain))
            .cast("bigint")
            .alias("domain"),
            "__rp1",
        )
    )
    if order == "greedy_nn":
        # replace the JL key with the chain rank (same column name, so
        # the window below is shared by both orders)
        base = _greedy_nn_order(
            base,
            vectors,
            vec_id_col=vec_id_col,
            vec_col=vec_col,
            max_domain_rows=max_domain_rows,
        )
    w = (
        Window.partitionBy("domain")
        .orderBy(F.asc_nulls_last("__rp1"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
    return base.select(
        "doc_id",
        "n_tokens",
        "domain",
        (
            (F.col("domain") - F.lit(missing_domain)).cast("bigint")
            * F.lit(_PACK_STRIDE)
            + F.floor(pre / F.lit(max_tokens)).cast("bigint")
        ).alias("pack_id"),
        (F.col("n_tokens") > max_tokens).cast("int").alias("oversize"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_tokens: int = 2048,
    overlap: int = 0,
) -> DataFrame:
    """Split documents into ≤ ``max_tokens`` token chunks with
    ``overlap`` tokens of context carried between consecutive chunks —
    the stage that runs BEFORE :func:`pack_sequences` so oversize
    documents become packable windows instead of solo oversize packs.

    Output: one row per chunk, ``(doc_id, chunk_idx, n_tokens,
    chunk_text)`` — chunk ``i`` covers tokens ``[i·stride, i·stride +
    max_tokens)`` of the whitespace-normalized token stream, ``stride =
    max_tokens - overlap``.  Pure row-local expression work (tokenize →
    per-chunk ``slice`` → ``posexplode``): no shuffle, no Python, and
    the work is proportional to the OUTPUT text, which any chunker must
    write.  Deterministic; empty/whitespace-only docs yield one empty
    chunk (``n_tokens = 0``) so no document silently disappears.
    """
    from pyspark_dist_explore_spark.operators.dedup import normalize_text

    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    if not 0 <= overlap < max_tokens:
        raise ValueError(
            f"overlap must be in [0, max_tokens), got {overlap} for max_tokens={max_tokens}"
        )
    stride = max_tokens - overlap
    norm = normalize_text(F.col(text_col))
    toks = F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )
    n = F.size(toks)
    # chunks fully covering n tokens at this stride: 1 + ceil((n - max) / stride)
    n_chunks = F.greatest(
        F.lit(1),
        F.lit(1) + F.ceil((n - F.lit(max_tokens)) / F.lit(stride)).cast("int"),
    )
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            toks.alias("__toks"),
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("__pos", "__ci"),
        )
        .select(
            "doc_id",
            F.col("__ci").cast("int").alias("chunk_idx"),
            F.size(F.slice(F.col("__toks"), F.col("__ci") * stride + 1, max_tokens))
            .cast("bigint")
            .alias("n_tokens"),
            F.concat_ws(
                " ", F.slice(F.col("__toks"), F.col("__ci") * stride + 1, max_tokens)
            ).alias("chunk_text"),
        )
    )


#: chunk_id = doc_id * 2^20 + chunk_idx keeps chunk ids collision-free
#: (chunks-per-doc < 2^20, doc ids < 2^43) while staying inside BIGINT
CHUNK_ID_STRIDE = 1 << 20


def chunk_ids(chunks: DataFrame) -> DataFrame:
    """Collapse :func:`chunk_documents` output ``(doc_id, chunk_idx)``
    into a single collision-free bigint ``chunk_id`` (doc-major, so
    ordering by ``chunk_id`` preserves document order then chunk order
    — the order :func:`pack_sequences` packs in)."""
    return chunks.select(
        (
            F.col("doc_id").cast("bigint") * F.lit(CHUNK_ID_STRIDE)
            + F.col("chunk_idx").cast("bigint")
        ).alias("chunk_id"),
        "n_tokens",
    )


def _chunk_base_ctes(
    table: str,
    id_col: str,
    *,
    chunk_max_tokens: int,
    overlap: int,
    buckets: int,
    norm_text_expr: str,
) -> str:
    """Shared CTE prefix (tokenize → chunk → chunk ids → md5 bucket)
    used by both DuckDB pack renderers."""
    stride = chunk_max_tokens - overlap
    bucket = _bucket_sql("chunk_id", buckets)
    return f"""toks AS (
  SELECT {id_col} AS doc_id,
         CASE WHEN {norm_text_expr} = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split({norm_text_expr}, ' ') END AS toks
  FROM {table}
),
nch AS (
  SELECT doc_id, toks,
         GREATEST(1, 1 + CAST(ceil((len(toks) - {chunk_max_tokens}) / {stride}.0) AS INT))
           AS n_chunks
  FROM toks
),
chunks AS (
  SELECT doc_id, toks, unnest(generate_series(0, n_chunks - 1)) AS ci FROM nch
),
base AS (
  SELECT CAST(doc_id AS BIGINT) * {CHUNK_ID_STRIDE} + ci AS chunk_id,
         CAST(len(list_slice(toks, ci * {stride} + 1, ci * {stride} + {chunk_max_tokens}))
              AS BIGINT) AS n_tokens
  FROM chunks
),
bucketed AS (
  SELECT chunk_id, n_tokens, {bucket} AS bucket FROM base
)"""


_CUMSUM_SELECT = """SELECT chunk_id, n_tokens, bucket,
       bucket * {stride} + CAST(floor(
         COALESCE(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY chunk_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         / {max_tokens}.0) AS BIGINT) AS pack_id,
       CAST(n_tokens > {max_tokens} AS INT) AS oversize
FROM bucketed"""


def chunk_pack_sql(
    table: str,
    id_col: str,
    *,
    chunk_max_tokens: int,
    overlap: int,
    max_tokens: int,
    buckets: int,
    norm_text_expr: str,
) -> str:
    """DuckDB rendering of the composed ``chunk_documents`` →
    ``chunk_ids`` → ``pack_sequences(mode='cumsum')`` chain — the full
    training-batch shaping pipeline (stride-window chunking, doc-major
    chunk ids, md5 bucket shard, exclusive window cumsum, floor-division
    packs) as ONE hash-checkable query."""
    prefix = _chunk_base_ctes(
        table,
        id_col,
        chunk_max_tokens=chunk_max_tokens,
        overlap=overlap,
        buckets=buckets,
        norm_text_expr=norm_text_expr,
    )
    sel = _CUMSUM_SELECT.format(stride=_PACK_STRIDE, max_tokens=max_tokens)
    return f"\nWITH {prefix}\n{sel}\n"


def _greedy_ctes_sql(max_tokens: int) -> str:
    """Recursive-CTE rendering of the per-bucket first-fit loop: the
    recursion carries the SAME (open-pack index, open-pack fill) state
    the Python loop does, one recursion step per row within each
    bucket (all buckets advance in lockstep).  ``emit_pid`` is the
    pack the ROW lands in; (pid, cur) is the state AFTER the row."""
    m = max_tokens
    return f"""nb AS (
  SELECT chunk_id, n_tokens, bucket,
         row_number() OVER (PARTITION BY bucket ORDER BY chunk_id) AS rn
  FROM bucketed
),
g AS (
  SELECT bucket, rn, chunk_id, n_tokens,
         0 AS emit_pid,
         CASE WHEN n_tokens > {m} THEN 1 ELSE 0 END AS pid,
         CASE WHEN n_tokens > {m} THEN 0 ELSE n_tokens END AS cur
  FROM nb WHERE rn = 1
  UNION ALL
  SELECT b.bucket, b.rn, b.chunk_id, b.n_tokens,
         CASE WHEN b.n_tokens > {m} THEN g.pid + CASE WHEN g.cur > 0 THEN 1 ELSE 0 END
              WHEN g.cur + b.n_tokens > {m} THEN g.pid + 1
              ELSE g.pid END AS emit_pid,
         CASE WHEN b.n_tokens > {m} THEN g.pid + CASE WHEN g.cur > 0 THEN 1 ELSE 0 END + 1
              WHEN g.cur + b.n_tokens > {m} THEN g.pid + 1
              ELSE g.pid END AS pid,
         CASE WHEN b.n_tokens > {m} THEN 0
              WHEN g.cur + b.n_tokens > {m} THEN b.n_tokens
              ELSE g.cur + b.n_tokens END AS cur
  FROM g JOIN nb b ON b.bucket = g.bucket AND b.rn = g.rn + 1
),
greedy_out AS (
  SELECT chunk_id, n_tokens, bucket,
         bucket * {_PACK_STRIDE} + emit_pid AS pack_id,
         CAST(n_tokens > {m} AS INT) AS oversize
  FROM g
)"""


def _ffd_ctes_sql(max_tokens: int) -> str:
    """Recursive-CTE rendering of the per-bucket FIRST-FIT-DECREASING
    loop (X62): rows ordered (n_tokens DESC, chunk_id ASC) within each
    bucket, the recursion carrying the SAME open-pack capacity LIST the
    numpy loop does — ``list_position(list_transform(caps, c -> c >=
    n), true)`` is the vectorized first-fit scan (1-based; DuckDB
    returns 0 when nothing fits), list surgery replays the capacity
    decrement, giants append a capacity-0 pack.  One recursion step per
    row; all buckets advance in lockstep."""
    m = max_tokens
    fit = "list_position(list_transform(f.caps, c -> c >= b.n_tokens), true)"
    return f"""nf AS (
  SELECT chunk_id, n_tokens, bucket,
         row_number() OVER (
           PARTITION BY bucket ORDER BY n_tokens DESC, chunk_id ASC) AS rn
  FROM bucketed
),
f AS (
  SELECT bucket, rn, chunk_id, n_tokens,
         0 AS emit_pid,
         CASE WHEN n_tokens > {m} THEN [CAST(0 AS BIGINT)]
              ELSE [CAST({m} AS BIGINT) - n_tokens] END AS caps
  FROM nf WHERE rn = 1
  UNION ALL
  SELECT b.bucket, b.rn, b.chunk_id, b.n_tokens,
         CAST(CASE WHEN b.n_tokens > {m} THEN len(f.caps)
              WHEN {fit} > 0 THEN {fit} - 1
              ELSE len(f.caps) END AS INT) AS emit_pid,
         CASE WHEN b.n_tokens > {m} THEN list_append(f.caps, CAST(0 AS BIGINT))
              WHEN {fit} > 0
                THEN list_slice(f.caps, 1, {fit} - 1)
                     || [f.caps[{fit}] - b.n_tokens]
                     || list_slice(f.caps, {fit} + 1, len(f.caps))
              ELSE list_append(f.caps, CAST({m} AS BIGINT) - b.n_tokens)
              END AS caps
  FROM f JOIN nf b ON b.bucket = f.bucket AND b.rn = f.rn + 1
),
ffd_out AS (
  SELECT chunk_id, n_tokens, bucket,
         bucket * {_PACK_STRIDE} + emit_pid AS pack_id,
         CAST(n_tokens > {m} AS INT) AS oversize
  FROM f
)"""


def chunk_pack_modes_sql(
    table: str,
    id_col: str,
    *,
    chunk_max_tokens: int,
    overlap: int,
    max_tokens: int,
    buckets: int,
    norm_text_expr: str,
) -> str:
    """DuckDB rendering of the chunk chain packed under every mode,
    mode-tagged and unioned, so each mode is hash-checked at the driver
    gate, not just in pytest:

    - ``cumsum`` (window SQL);
    - ``greedy``, the strictly-≤-budget first-fit, rendered as a
      per-bucket recursive CTE carrying the identical loop state;
    - ``ffd``, the X62 first-fit-decreasing assignment, via a second
      recursive CTE whose state is the open-pack capacity list itself;
    - ``span``, the X65 SPAN MAP over the FFD packs — the per-(pack,
      chunk) half-open token span ``[start, end)`` in FFD concatenation
      order, carried in the shared schema as ``bucket``=start /
      ``oversize``=end (both < 2³¹: spans are bounded by
      ``max_tokens``)."""
    prefix = _chunk_base_ctes(
        table,
        id_col,
        chunk_max_tokens=chunk_max_tokens,
        overlap=overlap,
        buckets=buckets,
        norm_text_expr=norm_text_expr,
    )
    cumsum = _CUMSUM_SELECT.format(stride=_PACK_STRIDE, max_tokens=max_tokens)
    greedy = _greedy_ctes_sql(max_tokens)
    span = pack_span_map_sql(
        "SELECT chunk_id AS doc_id, n_tokens, pack_id FROM ffd_out", order="ffd"
    )
    return f"""
WITH RECURSIVE {prefix},
{greedy},
{_ffd_ctes_sql(max_tokens)}
SELECT 'cumsum' AS mode, * FROM ({cumsum})
UNION ALL
SELECT 'greedy' AS mode, chunk_id, n_tokens, bucket, pack_id, oversize FROM greedy_out
UNION ALL
SELECT 'ffd' AS mode, chunk_id, n_tokens, bucket, pack_id, oversize FROM ffd_out
UNION ALL
SELECT 'span' AS mode, doc_id AS chunk_id, n_tokens, CAST(start AS INT) AS bucket, pack_id, CAST("end" AS INT) AS oversize
FROM ({span})
"""


def pack_sequences_sql(
    table: str,
    id_col: str,
    *,
    max_tokens: int,
    buckets: int,
    norm_text_expr: str,
) -> str:
    """DuckDB rendering of ``pack_sequences(mode='cumsum')`` — identical
    bucket hash, exclusive window cumsum, floor division, stride."""
    bucket = _bucket_sql(id_col, buckets)
    return f"""
WITH base AS (
  SELECT CAST({id_col} AS BIGINT) AS doc_id,
         {dedup.n_tokens_sql(norm_text_expr)} AS n_tokens,
         {bucket} AS bucket
  FROM {table}
)
SELECT doc_id, n_tokens, bucket,
       bucket * {_PACK_STRIDE} + CAST(floor(
         COALESCE(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         / {max_tokens}.0) AS BIGINT) AS pack_id,
       CAST(n_tokens > {max_tokens} AS INT) AS oversize
FROM base
"""


# --------------------------------------------------------------------------
# X65: pack span map — the trainer-facing (pack, doc, offset) layout
# --------------------------------------------------------------------------


def pack_span_map(packed: DataFrame, *, order: str = "id") -> DataFrame:
    """Materialize the TOKEN-OFFSET layout of every pack: one row per
    (pack, doc) with the half-open token span ``[start, end)`` the doc
    occupies inside its pack — exactly what a dataloader needs to build
    attention masks / document-boundary loss masks over packed
    sequences (the "don't attend across doc boundaries" convention of
    every packed-pretraining recipe).

    ``order`` must name the in-pack concatenation order of the mode
    that produced ``packed``: ``'id'`` for ``cumsum``/``greedy``/
    ``'related'``-style id-ordered packs, ``'ffd'`` for first-fit-
    decreasing ((n_tokens DESC, doc_id ASC) — FFD places docs in that
    order, so that IS its concatenation order).

    Input: any :func:`pack_sequences` /
    :func:`~pyspark_dist_explore_spark.plans.llm_ops.pack_related_documents`
    output carrying ``(doc_id, n_tokens, pack_id)``.  Output:
    ``(pack_id, doc_id, n_tokens, start, end)`` with ``start`` the
    exclusive running token count — spans tile ``[0, pack_tokens)``
    with no gaps or overlaps (pytest-pinned, plus a DuckDB twin).

    Scale shape: ONE window over ``pack_id`` (packs are ≤ max_tokens of
    content by construction, so every partition is tiny); no joins, no
    Python.
    """
    if order not in ("id", "ffd"):
        raise ValueError(f"order must be 'id' or 'ffd', got {order!r}")
    cols = (
        [F.col("doc_id").asc()]
        if order == "id"
        else [F.col("n_tokens").desc(), F.col("doc_id").asc()]
    )
    w = Window.partitionBy("pack_id").orderBy(*cols).rowsBetween(
        Window.unboundedPreceding, -1
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("bigint"))
    return packed.select(
        "pack_id",
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        start.cast("bigint").alias("start"),
        (start + F.col("n_tokens")).cast("bigint").alias("end"),
    )


def pack_span_map_sql(packed_sql: str, *, order: str = "id") -> str:
    """DuckDB twin of :func:`pack_span_map` — the identical exclusive
    window cumsum over the identical in-pack order, on a relation
    carrying ``(doc_id, n_tokens, pack_id)``."""
    if order not in ("id", "ffd"):
        raise ValueError(f"order must be 'id' or 'ffd', got {order!r}")
    ob = "doc_id ASC" if order == "id" else "n_tokens DESC, doc_id ASC"
    return f"""
WITH spm AS (SELECT doc_id, n_tokens, pack_id FROM ({packed_sql}))
SELECT pack_id, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(sum(n_tokens) OVER (
         PARTITION BY pack_id ORDER BY {ob}
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start,
       CAST(COALESCE(sum(n_tokens) OVER (
         PARTITION BY pack_id ORDER BY {ob}
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + n_tokens AS BIGINT) AS "end"
FROM spm
"""


# ---------------------------------------------------------------------------
# X72: length-bucketed batch shaping (padding-efficiency batching)
# ---------------------------------------------------------------------------


def bucket_batches(
    df: DataFrame,
    id_col: str,
    *,
    batch_size: int,
    token_count_col: str | None = None,
    text_col: str | None = None,
) -> DataFrame:
    """Length-bucketed BATCH assignment — the non-packing half of
    training-batch shaping: sequences sorted by token count (DESC, id
    ASC ties) and cut into consecutive ``batch_size`` groups, so each
    batch pads only to ITS OWN max length instead of the corpus max
    (the classic "bucketing by sequence length" of seq2seq/LLM
    fine-tuning loaders; packing concatenates into fixed windows, this
    keeps one sequence per slot and minimizes the pad it must eat).

    Output per row: ``(id, n_tokens, batch_id, pos_in_batch, pad)``
    where ``pad = batch_max − n_tokens`` (exact BIGINTs — sum(pad) is
    the wasted-token bill the A/B pytest pins at ~30× below
    arrival-order batching on the real corpus).  The LAST batch may be
    short (the remainder).

    Scale shape — the global length rank WITHOUT a global sort (the X53
    two-level rank discipline): ONE tiny per-length count aggregate
    (≤ distinct-lengths rows, driver-small for any real token
    distribution) gets exclusive cumulative offsets on a single-
    partition window over that TINY frame; each row's global rank is
    then ``offset(its length) + rank-within-length`` — a window
    partitioned BY LENGTH, so the corpus shuffle is hash-partitioned,
    never range-sorted.  One more batch-partitioned window computes the
    batch max.  Every key is an exact integer; the DuckDB twin
    (:func:`bucket_batches_sql`) spells the same arithmetic over a
    plain ``row_number`` and must match row for row (class A)."""
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    if (token_count_col is None) == (text_col is None):
        raise ValueError("provide exactly one of token_count_col / text_col")
    if token_count_col is not None:
        n_tokens = F.col(token_count_col).cast("bigint")
    else:
        n_tokens = dedup.n_tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), n_tokens.alias("n_tokens"))
    # level 1: per-length counts (tiny) -> exclusive offsets in global
    # (n DESC) order; single-partition window over the distinct-length
    # frame only
    counts = base.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("__c"))
    w_off = (
        Window.orderBy(F.col("n_tokens").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "n_tokens",
        F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"),
    )
    # level 2: rank within each length by id, lift by the broadcast
    # offset -> exact global (n DESC, id ASC) rank, no global sort
    w_in = Window.partitionBy("n_tokens").orderBy(F.col("id").asc())
    ranked = (
        base.join(F.broadcast(offsets), "n_tokens")
        .withColumn(
            "__rk", F.col("__off") + F.row_number().over(w_in) - F.lit(1)
        )
        .select(
            "id",
            "n_tokens",
            (F.col("__rk") / batch_size).cast("bigint").alias("batch_id"),
            (F.col("__rk") % batch_size).cast("int").alias("pos_in_batch"),
        )
    )
    w_batch = Window.partitionBy("batch_id")
    return ranked.withColumn(
        "pad", (F.max("n_tokens").over(w_batch) - F.col("n_tokens")).cast("bigint")
    )


def bucket_batches_sql(
    src: str,
    id_col: str,
    *,
    batch_size: int,
    token_count_expr: str,
) -> str:
    """DuckDB twin of :func:`bucket_batches` — the same (n DESC, id
    ASC) total order via a plain ``row_number``, the same floor-div/mod
    batch arithmetic, the same batch-max pad; all integers.  ``src``
    must yield ``{id_col}`` and the columns ``token_count_expr`` reads;
    emits ``(id, n_tokens, batch_id, pos_in_batch, pad)``."""
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    return f"""
SELECT id, n_tokens,
       CAST((rk - 1) // {batch_size} AS BIGINT) AS batch_id,
       CAST((rk - 1) % {batch_size} AS INT) AS pos_in_batch,
       CAST(max(n_tokens) OVER (PARTITION BY (rk - 1) // {batch_size})
            - n_tokens AS BIGINT) AS pad
FROM (
  SELECT CAST({id_col} AS BIGINT) AS id,
         CAST({token_count_expr} AS BIGINT) AS n_tokens,
         row_number() OVER (
           ORDER BY CAST({token_count_expr} AS BIGINT) DESC,
                    CAST({id_col} AS BIGINT) ASC
         ) AS rk
  FROM ({src})
)
"""
