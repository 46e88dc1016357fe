"""Eval-set decontamination (SURVEY.md §2.2 north-star extension): flag
training documents that share any word ``n``-gram with a benchmark/eval
corpus, so evaluation results are not inflated by memorized test items.

This is the standard pretraining-pipeline stage (e.g. GPT-3 appendix C /
PaLM / Llama dedup-against-benchmarks): an exact ≥ ``n``-token overlap
between a training document and any eval document marks the training
document contaminated.  Composition of existing pieces:

1. gram build — :func:`dedup.shingle_rows` on BOTH sides (distinct word
   ``n``-grams per document, the same lead-window relational build the
   MinHash family uses; docs shorter than ``n`` tokens contribute one
   whole-doc gram);
2. the eval side collapses to a DISTINCT gram set — benchmark corpora
   are tiny next to a training corpus, so this set is broadcast and the
   probe is a map-side hash join against the training grams: the 100 TB
   corpus is scanned once, shuffled only to aggregate per-doc hit
   counts (key = doc id, map-side partial counts);
3. verdict — one row per training document ``(doc_id, n_eval_grams,
   contaminated)`` where ``n_eval_grams`` counts the DISTINCT training-
   doc grams found in the eval set.

Everything is plain string equality on gram text — fully
SQL-expressible, so the registered driver query has a DuckDB oracle twin
(plans/llm_ops.py) hash-checking the whole chain.

``pipeline.curate_documents(decontaminate_against=...)`` wires the flag
in as an opt-in drop stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_dist_explore_spark.operators.dedup import shingle_rows


def eval_gram_set(
    eval_df: DataFrame, text_col: str, *, ngram_n: int = 13
) -> DataFrame:
    """DISTINCT word ``n``-grams of the eval corpus, one ``sh`` column.

    Separate entry point so a pipeline can build the set once, persist
    or land it to parquet, and reuse it across many training shards —
    the eval corpus is static while training data streams past it.
    """
    # shingle_rows wants an id column only to carry it along; the eval
    # side discards ids, so reuse text_col as a stand-in id
    return (
        shingle_rows(eval_df, text_col, text_col, ngram_n)
        .select("sh")
        .distinct()
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    ngram_n: int = 13,
    eval_text_col: str | None = None,
) -> DataFrame:
    """Per-training-document contamination verdict against an eval corpus.

    Returns one row per training document: ``(doc_id, n_eval_grams,
    contaminated)`` — ``n_eval_grams`` = number of distinct word
    ``ngram_n``-grams of the document that also occur anywhere in
    ``eval_df``; ``contaminated`` = 1 when that count is positive.

    The eval gram set is broadcast-hinted (an eval corpus is
    benchmark-sized), so the training gram stream never shuffles; only
    the per-doc count aggregate shuffles, keyed on doc id with map-side
    partials.  For an eval side too large to broadcast use
    :func:`contaminated_ids` with ``bloom_bits``.

    Docs shorter than ``ngram_n`` tokens contribute one whole-doc gram
    (shingle semantics) — they are flagged only when the eval set
    contains an identically short document/passage, never by a longer
    eval gram.
    """
    grams = shingle_rows(train, text_col, id_col, ngram_n)
    ev = eval_gram_set(eval_df, eval_text_col or text_col, ngram_n=ngram_n)
    hits = (
        grams.join(F.broadcast(ev), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_eval_grams"))
    )
    ids = train.select(F.col(id_col).alias("doc_id")).distinct()
    n = F.coalesce(F.col("n_eval_grams"), F.lit(0).cast("bigint"))
    return ids.join(hits, "doc_id", "left").select(
        "doc_id",
        n.alias("n_eval_grams"),
        (n > 0).cast("int").alias("contaminated"),
    )


def decontaminate_winnow(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    window: int = 4,
    eval_text_col: str | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing-fingerprint decontamination — the reduced-storage scale
    variant of :func:`decontaminate`.

    Both sides reduce to winnowing fingerprints (~``1/window`` of their
    grams, see :func:`textstats.winnowing_fingerprints`), then probe the
    broadcast eval fingerprint set.  The winnowing guarantee gives exact
    sandwich semantics relative to the n-gram operator:

    - any shared passage of ≥ ``k + window - 1`` tokens IS flagged
      (both sides must select a common fingerprint inside it), and
    - a flag implies a shared ``k``-gram (the fingerprint is the hash
      of one),

    so ``flags(decontaminate, ngram_n=k)`` ⊇ ``flags(here)`` ⊇
    ``flags(decontaminate, ngram_n=k+window-1)`` — pinned by
    ``test_decontaminate_winnow_sandwich``.  Use it when the eval corpus
    is large enough that its full gram set strains the broadcast budget:
    fingerprints cut both the broadcast and the probe stream by
    ~``window``× while keeping a hard lower-bound guarantee.

    Output matches :func:`decontaminate`: ``(doc_id, n_eval_fps,
    contaminated)``.
    """
    from pyspark_dist_explore_spark.operators.textstats import (
        winnowing_fingerprints,
    )

    fps = winnowing_fingerprints(
        train, text_col, id_col, k=k, window=window, hash_fn=hash_fn
    )
    etc = eval_text_col or text_col
    ev = (
        winnowing_fingerprints(eval_df, etc, etc, k=k, window=window, hash_fn=hash_fn)
        .select("fingerprint")
        .distinct()
    )
    hits = (
        fps.join(F.broadcast(ev), "fingerprint")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_eval_fps"))
    )
    ids = train.select(F.col(id_col).alias("doc_id")).distinct()
    n = F.coalesce(F.col("n_eval_fps"), F.lit(0).cast("bigint"))
    return ids.join(hits, "doc_id", "left").select(
        "doc_id",
        n.alias("n_eval_fps"),
        (n > 0).cast("int").alias("contaminated"),
    )


def contaminated_ids(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    ngram_n: int = 13,
    eval_text_col: str | None = None,
    bloom_bits: int | None = None,
    bloom_hashes: int = 5,
) -> DataFrame:
    """Just the flagged ids (one ``doc_id`` column) — the anti-join input
    :func:`pipeline.curate_documents` consumes.  Skips the keep-side
    left join of :func:`decontaminate`, so the plan is gram build →
    broadcast probe → distinct ids.

    ``bloom_bits=N`` is the HUGE-EVAL scale path (an eval suite too big
    to broadcast as an in-memory gram set): the distinct eval grams
    build a Bloom bitmap (:func:`operators.dedup.build_fp_bloom` —
    distributed ``bit_or``, ``N``/8 bytes on the driver) that is
    broadcast into an Arrow-batched membership test over the TRAINING
    gram stream; only bloom-HIT grams (true contamination + false
    positives, rate ≈ (1-e^(-hashes·n/N))^hashes) proceed to the exact
    verify semi-join against the eval gram set, so the trillion-gram
    training side never shuffles and the eval side shuffles once
    instead of broadcasting whole.  False positives are weeded by the
    verify join — the result EXACTLY equals the plain path.  Without
    ``bloom_bits`` the eval gram set is broadcast-hinted.
    """
    grams = shingle_rows(train, text_col, id_col, ngram_n)
    ev = eval_gram_set(eval_df, eval_text_col or text_col, ngram_n=ngram_n)
    if bloom_bits is not None:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from pyspark_dist_explore_spark.operators.dedup import (
            _fp_km_hashes,
            build_fp_bloom,
        )

        # sh is the raw gram string — hash it to the md5-hex form the
        # Kirsch–Mitzenmacher position derivation expects, on BOTH sides
        arr = build_fp_bloom(
            ev.select(F.md5("sh").alias("sh")), "sh",
            bits=bloom_bits, hashes=bloom_hashes,
        )
        bits, hashes = bloom_bits, bloom_hashes

        @pandas_udf("boolean")
        def _maybe_hit(h1, h2):
            import numpy as np

            a1 = h1.to_numpy(dtype=np.int64)
            a2 = h2.to_numpy(dtype=np.int64)
            hit = np.ones(len(a1), dtype=bool)
            for i in range(hashes):
                p = (a1 + i * a2) % bits
                w = p >> 6
                b = (p & 63).astype(np.uint64)
                hit &= ((arr[w] >> b) & np.uint64(1)).astype(bool)
            return pd.Series(hit)

        h1, h2 = _fp_km_hashes(F.md5(F.col("sh")))
        cand = grams.withColumn("__maybe", _maybe_hit(h1, h2)).where(
            F.col("__maybe")
        )
        return cand.join(ev, "sh", "leftsemi").select("doc_id").distinct()
    return grams.join(F.broadcast(ev), "sh").select("doc_id").distinct()


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    ngram_n: int = 13,
    eval_id_col: str,
    eval_text_col: str | None = None,
) -> DataFrame:
    """WHICH eval items leaked into WHICH training docs — the audit
    companion to :func:`contaminated_ids`: ``(doc_id, eval_id,
    n_shared_grams)``, one row per (training doc, eval item) pair that
    shares at least one ``ngram_n``-token word n-gram.

    ``contaminated_ids`` answers "what do I drop"; this answers the
    follow-up a benchmark owner asks — "which of MY items are burned,
    and how badly" (``n_shared_grams`` ranks verbatim inclusion above a
    single overlapping idiom).  Group by ``eval_id`` for the per-item
    burn list; a benchmark item with no row is clean.

    Scale shape: identical to the probe path — training grams built
    row-locally and map-side probed against the (benchmark-sized,
    broadcast-hinted) eval gram table, which here keeps its
    ``eval_id`` instead of collapsing to a DISTINCT set; the only
    aggregate is the ≤ |flagged pairs|-row count.  The training side
    still never shuffles.
    """
    grams = shingle_rows(train, text_col, id_col, ngram_n)
    # shingle_rows is already per-doc DISTINCT, so n_shared_grams counts
    # DISTINCT shared grams — repeats inside either text don't inflate it
    ev = shingle_rows(
        eval_df, eval_text_col or text_col, eval_id_col, ngram_n
    ).select(F.col("doc_id").alias("eval_id"), "sh")
    return (
        grams.join(F.broadcast(ev), "sh")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def semantic_contaminated_ids(
    train_embeddings: DataFrame,
    eval_embeddings: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    eval_id_col: str | None = None,
    eval_vec_col: str | None = None,
    max_eval_rows: int = 1 << 18,
) -> DataFrame:
    """SEMANTIC decontamination: flag training documents whose embedding
    sits within ``threshold`` cosine of ANY eval item's embedding — the
    leakage n-gram matching cannot see (paraphrased or translated test
    items share no 13-gram with their source, but land next to it in
    embedding space).  Output: one row per contaminated training doc,
    ``(doc_id, eval_id, cos_sim)`` — its best-matching eval item and the
    cosine.  Similarities are ROUNDED to 6 decimals BEFORE the argmax
    and ties break toward the smaller eval id — exactly the semantics a
    SQL twin spells as ``min(eval_id) WHERE rounded_sim = max`` (the
    driver-gate oracle relies on this; an unrounded argmax would pick a
    build-dependent winner between @6-tied eval items).

    Scale shape: the eval side is benchmark-sized BY DEFINITION — it is
    unit-normalized Spark-side, bounded by ``max_eval_rows`` (a hard
    error, never silent truncation), collected once, and broadcast to
    executors as one numpy matrix; the training corpus then streams
    through ``mapInPandas`` — each Arrow batch is ONE BLAS matmul
    against the eval matrix, no join, no shuffle, no pair
    materialization.  The training side is scanned exactly once however
    large it is; memory per executor is eval_rows × dim × 8 bytes.
    """
    from pyspark_dist_explore_spark.operators.similarity import _unit

    import numpy as np
    import pandas as pd

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    eid = eval_id_col or id_col
    evec = eval_vec_col or vec_col
    ev = eval_embeddings.select(
        F.col(eid).alias("eval_id"), _unit(F.col(evec)).alias("uv")
    ).orderBy("eval_id")
    # the eval matrix is benchmark-sized and hard-capped at max_eval_rows
    # (loud error above the cap) — it must reach the driver to broadcast
    # as one numpy matrix
    rows = ev.limit(max_eval_rows + 1).collect()  # bounded-collect: ≤ max_eval_rows+1 rows by construction
    if len(rows) > max_eval_rows:
        raise ValueError(
            f"eval_embeddings exceeds max_eval_rows={max_eval_rows}; semantic "
            "decontamination broadcasts the eval matrix — an eval side this "
            "large is not benchmark-shaped (raise the cap explicitly if it "
            "truly fits executor memory)"
        )
    if not rows:
        spark = train_embeddings.sparkSession
        return spark.createDataFrame(
            [], f"doc_id {train_embeddings.schema[id_col].dataType.simpleString()}, "
                f"eval_id {eval_embeddings.schema[eid].dataType.simpleString()}, "
                "cos_sim double",
        )
    eval_ids = np.array([r.eval_id for r in rows])
    B = np.stack([np.asarray(r.uv, dtype=np.float64) for r in rows])
    bc = train_embeddings.sparkSession.sparkContext.broadcast((eval_ids, B))
    thr = float(threshold)

    id_type = train_embeddings.schema[id_col].dataType.simpleString()
    eval_id_type = eval_embeddings.schema[eid].dataType.simpleString()
    out_schema = f"doc_id {id_type}, eval_id {eval_id_type}, cos_sim double"

    def probe(batches):
        ids_eval, mat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["__uv"].to_numpy())
            sims = np.round(A @ mat.T, 6)  # round BEFORE argmax: @6 ties
            j = sims.argmax(axis=1)  # first (= smallest eval id) max wins
            best = sims[np.arange(len(j)), j]
            keep = best >= thr
            yield pd.DataFrame(
                {
                    "doc_id": pdf["__id"].to_numpy()[keep],
                    "eval_id": ids_eval[j[keep]],
                    "cos_sim": best[keep],
                }
            )

    src = train_embeddings.select(
        F.col(id_col).alias("__id"), _unit(F.col(vec_col)).alias("__uv")
    )
    return src.mapInPandas(probe, schema=out_schema)
