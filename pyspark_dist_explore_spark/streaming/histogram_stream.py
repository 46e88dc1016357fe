"""Structured Streaming operators (SURVEY.md §2.2 X2/X8).

The streaming histogram is the same bucket expression as the batch path
(functions/numeric.py) grouped by a tumbling/sliding event-time window —
state per window is ≤ bins counters, trivially bounded; the watermark
closes windows and bounds late data.  ``range`` must be supplied (a
stream has no global min/max); pick it from a batch profile or a
domain bound.

Sinks: any ``writeStream`` target works; tests use the memory sink with
append mode so only watermark-finalized windows emit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_dist_explore_spark.functions.numeric import bucket_col, in_range, valid_value


def stream_windowed_histogram(
    events: DataFrame,
    *,
    value_col: str = "value",
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    bins: int = 10,
    range: tuple[float, float] = (0.0, 500.0),
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-window fixed-width histogram of a streaming value column.

    Works identically on a batch DataFrame (drop the watermark no-op) —
    the oracle-checked batch twin in plans/ is literally this plan.
    """
    if not range[0] <= range[1]:
        raise ValueError(f"range must be (lo, hi) with lo <= hi, got {range}")
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    lo, hi = F.lit(float(range[0])), F.lit(float(range[1]))
    v = F.col(value_col).cast("double")
    source = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        source.where(valid_value(v) & in_range(v, lo, hi))
        .groupBy(
            F.window(ts_col, window_duration).alias("w"),
            bucket_col(v, lo, hi, bins).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "bucket",
            "cnt",
        )
    )


def stream_running_stats(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    state_timeout_ms: int = 3_600_000,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running (count, sum, max) maintained across micro-batches.

    Each key's state is three numbers — O(#keys) total, evicted after
    ``state_timeout_ms`` of event-time silence (GroupStateTimeout.
    EventTimeTimeout, bound by the watermark).  Emits one updated row per
    key per micro-batch — the building block for streaming profiles/
    quantile sketches that windowed aggregation can't express (state
    survives across windows).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("key", LongType()),
            StructField("n", LongType()),
            StructField("total", DoubleType()),
            StructField("vmax", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("total", DoubleType()),
            StructField("vmax", DoubleType()),
        ]
    )

    def update(key, pdfs, state: "GroupState"):
        if state.hasTimedOut:
            state.remove()
            return
        n, total, vmax = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            v = pdf[value_col].dropna()
            n += len(v)
            total += float(v.sum()) if len(v) else 0.0
            vmax = max(vmax, float(v.max())) if len(v) else vmax
        state.update((n, total, vmax))
        # first micro-batch reports watermark 0 — arming a timeout there
        # would land in 1970 and evict the state on the next batch
        wm = state.getCurrentWatermarkMs()
        if wm > 0:
            state.setTimeoutTimestamp(wm + state_timeout_ms)
        yield pd.DataFrame({"key": [key[0]], "n": [n], "total": [total], "vmax": [vmax]})

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str],
    *,
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """X2: streaming-safe exact dedup — state bounded by the watermark.

    ``dropDuplicatesWithinWatermark`` keeps each key's state only until
    the watermark passes it, so unbounded streams don't accumulate
    unbounded dedup state (plain ``dropDuplicates`` on a stream would).
    """
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def stream_enrich(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes (user
    profile, document metadata, …) to a stream.

    Stream-static joins are STATELESS in Structured Streaming — each
    micro-batch joins against the current static frame, nothing is
    buffered, no watermark is needed — which makes this the cheapest
    join shape a streaming pipeline has.  The dim side is
    broadcast-hinted, so every executor joins map-side with zero
    shuffle of the stream, and the join is ``left``: enrichment must
    never DROP stream rows just because the dimension is missing one
    key.

    Works identically on batch frames (it is a plain join) — tests pin
    the streaming execution path via the memory sink.
    """
    return events.join(F.broadcast(dim), on, "left")


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "30 minutes",
    watermark: str = "30 minutes",
    suffix: str = "_r",
) -> DataFrame:
    """X8: stream-stream inner join on a key within an event-time
    interval — the attribution shape (impression ⋈ click ≤ ``within``
    later) a training-data event pipeline needs.

    Both sides are watermarked and the join condition carries the time
    interval, so Spark can PROVE when buffered rows are joinable-no-more
    and evict them: state is bounded by ``watermark + within`` per key,
    not by stream length.  Works identically on batch frames (watermarks
    skipped) — that batch twin is what tests pin the semantics against.

    Right-side columns that clash with the left get ``suffix``; the
    right event time is always emitted as ``{right_ts}{suffix}``.
    """
    renames = {
        c: c + suffix
        for c in right.columns
        if c != on and (c in left.columns or c == right_ts)
    }
    r = right
    for old, new in renames.items():
        r = r.withColumnRenamed(old, new)
    rts = right_ts + suffix if right_ts in renames else right_ts
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if r.isStreaming:
        r = r.withWatermark(rts, watermark)
    cond = (
        (left[on] == r[on])
        & (F.col(rts) >= F.col(left_ts))
        & (F.col(rts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return left.join(r, cond).drop(r[on])


def stream_drift_scores(
    win_hist: DataFrame,
    ref_hist: DataFrame,
    *,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-window distribution drift vs a static reference: one PSI row
    per event-time window — ``(window_start, window_end, n_events,
    psi)`` — from a windowed histogram (``stream_windowed_histogram``
    output or its batch twin) and a reference ``(bucket, cnt)``
    histogram built with the SAME bins/range (e.g. from last month's
    batch profile via ``compute_histogram``).

    Spark forbids a second streaming aggregation on an aggregated
    stream, so this scorer is the ``foreachBatch`` stage of the
    composition: ``stream_windowed_histogram(...)`` runs as the
    streaming query, and each micro-batch (or the finalized sink
    table) goes through this BATCH transform — windows are closed by
    the watermark, so each window's PSI is computed exactly once on
    its final counts.  PSI semantics identical to
    :func:`operators.stats.histogram_drift` (eps clamp, empty side =
    maximal drift).

    Scale: the reference is ≤ bins rows (broadcast); the per-window
    totals and PSI sums are hash aggregates over ≤ bins rows per
    window.  Nothing here scans raw events — the histogram already
    reduced them.
    """
    from pyspark.sql import Window

    if not 0.0 < eps < 1.0:
        raise ValueError(f"eps must be in (0, 1) (the PSI zero-bin clamp), got {eps}")
    # One pass over the windowed histogram — no window-list cross-join,
    # no self-join, no second reference to the input.  The PSI sum
    # splits algebraically: every reference bucket ABSENT from a window
    # contributes the q = eps clamp term, which depends only on the
    # reference, so Σ over all ref buckets of that term is a per-
    # reference CONSTANT (C, one broadcast row); each bucket PRESENT in
    # the window then contributes its actual term minus the absent-case
    # term it replaced.  psi(win) = C + Σ_present (term(p, q) −
    # term(p, eps)) — identical value, one scan.
    ref = ref_hist.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    ref_tot = ref.groupBy().agg(F.sum("cnt").alias("__tr"))
    p_ref = F.greatest(
        F.when(F.col("__tr") > 0, F.col("cnt") / F.col("__tr")).otherwise(0.0),
        F.lit(eps),
    )
    refp = ref.crossJoin(F.broadcast(ref_tot)).select(
        "bucket", p_ref.alias("__p")
    )
    # (q−p)·ln(q/p) is symmetric in (p, q); with q = eps the absent-
    # bucket term is (p − eps)·ln(p / eps)
    missing_term = (F.col("__p") - F.lit(eps)) * F.log(F.col("__p") / F.lit(eps))
    const = refp.groupBy().agg(F.sum(missing_term).alias("__c"))
    cells = win_hist.groupBy("window_start", "window_end", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )
    w = Window.partitionBy("window_start", "window_end")
    joined = (
        cells.withColumn("__tw", F.sum("cnt").over(w))
        .join(F.broadcast(refp), "bucket", "left")
        .crossJoin(F.broadcast(const))
    )
    # cur-only buckets: p clamps to eps and their absent-case term is 0
    p = F.coalesce(F.col("__p"), F.lit(eps))
    q = F.greatest(
        F.when(F.col("__tw") > 0, F.col("cnt") / F.col("__tw")).otherwise(0.0),
        F.lit(eps),
    )
    term = (q - p) * F.log(q / p) - (p - F.lit(eps)) * F.log(p / F.lit(eps))
    return (
        joined.withColumn("__psi", term)
        .groupBy("window_start", "window_end")
        .agg(
            F.sum("cnt").alias("n_events"),
            # an EMPTY reference sums its constant to NULL — coalesce to
            # 0 so every p clamps to eps and psi stays finite, exactly
            # the pre-factoring union behavior
            F.round(
                F.coalesce(F.first("__c"), F.lit(0.0)) + F.sum("__psi"), 10
            ).alias("psi"),
        )
    )

def stream_curate_lite(
    docs: DataFrame,
    sink_fn,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    host_col: str | None = None,
    host_cap: int | None = None,
    min_words: int = 2,
    min_stop_words: int = 0,
):
    """Streaming CURATE-LITE: the curation gates composed over a
    document STREAM — X2 content dedup on the stream (engine-managed
    state, bounded by the watermark), then per micro-batch via
    ``foreachBatch``: the X31 Gopher gate and the X41 per-host cap, all
    the UNCHANGED batch operators — the gate expressions are row-local
    enough to run inside the streaming engine without a parallel
    implementation (pinned by a memory-sink test).

    Returns a ``DataStreamWriter`` — the caller adds trigger/checkpoint
    and ``.start()``.  ``sink_fn(kept_batch, batch_id)`` receives each
    micro-batch's surviving rows (original columns).

    Semantics at the streaming boundary, stated rather than hidden:

    - dedup is CONTENT dedup (md5 of the normalized text), global
      within the watermark horizon across batches — the
      ``dropDuplicatesWithinWatermark`` state the engine already
      manages; X27's landed-snapshot join is the cross-run form.
    - the host cap is PER MICRO-BATCH (``cap_per_key`` is a rank
      window — a global cap over an unbounded stream is not a bounded-
      state operator); a production pipeline caps per batch and lets
      the X41 batch pass enforce the global policy on the landed dump.
    - the quality gates are row-local expressions, identical in batch
      and stream by construction.

    Scale shape: the stream shuffles once for the dedup state; each
    micro-batch then runs the same row-local projections + one
    batch-sized rank window the batch pipeline runs — no Python, no
    driver funnels.
    """
    from pyspark_dist_explore_spark.operators import textstats
    from pyspark_dist_explore_spark.operators.dedup import normalize_text
    from pyspark_dist_explore_spark.operators.sampling import cap_per_key

    fp = F.md5(normalize_text(F.coalesce(F.col(text_col), F.lit(""))))
    deduped = stream_dedup(
        docs.withColumn("__fp", fp), ["__fp"], ts_col=ts_col, watermark=watermark
    ).drop("__fp")

    def process(batch: DataFrame, batch_id: int) -> None:
        tq = F.coalesce(F.col(text_col), F.lit(""))
        staged = batch.select(
            "*",
            F.filter(textstats.tokens(tq), lambda x: x != "").alias("__toks"),
            F.split(tq, "\n").alias("__lines"),
        )
        sig = staged.select(
            "*",
            *textstats.gopher_signal_exprs(
                F.col("__toks"), F.col("__lines"), tq
            ),
        )
        gate = (
            textstats.gopher_keep_expr(
                min_words=min_words, min_stop_words=min_stop_words
            )
            == 1
        )
        kept = sig.where(gate).select(*batch.columns)
        if host_col is not None and host_cap is not None:
            kept = cap_per_key(kept, host_col, id_col, host_cap)
        sink_fn(kept, batch_id)

    return deduped.writeStream.foreachBatch(process)


def stream_neardup_filter(
    docs: DataFrame,
    snapshot_bands: DataFrame,
    snapshot_sigs: DataFrame,
    sink_fn,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
):
    """Streaming INCREMENTAL NEAR-DUP (X27 under ``foreachBatch`` — the
    last batch-only dedup family, closed round 13): each micro-batch is
    probed against a LANDED corpus snapshot's precomputed LSH artifacts
    (:func:`~pyspark_dist_explore_spark.operators.dedup.
    minhash_band_rows` + ``minhash_signatures``, the parquet tables a
    corpus build writes), and only genuinely-novel documents reach
    ``sink_fn(novel_batch, batch_id)``.  The daily-crawl shape: the
    stream re-minhashes ONLY ITSELF, batch-side broadcast; the snapshot
    never shuffles (the :func:`~pyspark_dist_explore_spark.operators.
    dedup.incremental_minhash_neardup` plan, UNCHANGED — the
    ``stream_curate_lite`` precedent of running the batch operator
    inside the engine rather than maintaining a parallel one).

    Returns a ``DataStreamWriter`` — the caller adds trigger/checkpoint
    and ``.start()``.  Same ``hash_fn``/params MUST match the ones the
    snapshot was landed with (band keys and signature components are
    only comparable within one scheme).

    Semantics at the streaming boundary, stated rather than hidden:
    novelty is judged against the FIXED snapshot, not against other
    in-flight batches — two near-dup docs arriving in different
    micro-batches both pass if neither resembles the snapshot.  Chain
    :func:`stream_dedup` upstream for exact within-stream dups, and
    fold the accepted batches into the next snapshot build for
    cross-run closure (the X27 batch recipe).
    """
    from pyspark_dist_explore_spark.operators.dedup import (
        incremental_minhash_neardup,
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        hits = incremental_minhash_neardup(
            batch,
            snapshot_bands,
            snapshot_sigs,
            text_col,
            id_col,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            hash_fn=hash_fn,
        )
        novel = batch.join(
            hits.select(F.col("doc_id").alias("__hit_id")).distinct(),
            batch[id_col] == F.col("__hit_id"),
            "left_anti",
        )
        sink_fn(novel, batch_id)

    return docs.writeStream.foreachBatch(process)



def stream_pq_neardup_filter(
    vecs: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    sink_fn,
    *,
    m: int,
    dim: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    assignments: DataFrame | None = None,
    n_probe: int = 4,
    rotation_salt: str | None = None,
    residual: bool = False,
):
    """Streaming SEMANTIC near-dup against a LANDED PQ index (the
    embedding analogue of :func:`stream_neardup_filter`, closing the
    semantic streaming family): each micro-batch of embedding rows is
    ADC-scored against the index's compressed codes
    (:func:`~pyspark_dist_explore_spark.operators.similarity.pq_topk`
    ``k=1`` — the batch operator UNCHANGED under ``foreachBatch``), and
    only rows whose best index score stays BELOW ``threshold`` reach
    ``sink_fn(novel_batch, batch_id)``.  Pass the frames straight from
    :func:`~pyspark_dist_explore_spark.sources.sinks.load_pq_index`;
    with ``centroids=`` AND ``assignments=`` the scan first restricts
    to the batch's ``n_probe`` inverted lists (the IVF-PQ serving
    shape — per micro-batch the index work is n_probe/n_centroids of
    the code rows, never the corpus), and ``rotation_salt=`` rotates
    the incoming embeddings into the index's OPQ space (the sidecar's
    recorded salt).

    ``threshold`` compares against the ADC score, which approximates
    the DOT product — for cosine semantics land a unit-normalized
    index and stream unit-normalized embeddings (the
    ``semantic_pair_fn`` convention).  Stream ids are assumed disjoint
    from index vec_ids (crawl-batch semantics): the ADC scorer skips
    an exact id collision as self.

    Returns a ``DataStreamWriter`` — the caller adds trigger/checkpoint
    and ``.start()``.  Novelty is judged against the FIXED index, not
    other in-flight batches (the :func:`stream_neardup_filter`
    boundary semantics); fold accepted batches into the next index
    build for cross-run closure.

    ``residual=True`` (X69 closure): serve a
    ``write_pq_index(residual=True)`` index — ``codes`` is then the
    residual enc ``(vec_id, cent_id, codes)``, ``centroids`` is
    required (the residual score needs the coarse term ``q·c``), and
    ``assignments`` is ignored (the enc carries its own inverted
    lists).  Check ``load_pq_index``'s ``params['residual']`` to pick
    the mode — the sidecar guard keeps the two index kinds from
    cross-serving.
    """
    from pyspark_dist_explore_spark.operators.similarity import (
        ivf_pq_residual_topk,
        ivf_pq_topk,
        pq_topk,
        rotate_embeddings,
    )

    if residual and centroids is None:
        raise ValueError(
            "residual=True requires centroids (the residual ADC score's "
            "coarse q-dot-c term comes from the probe stage)"
        )
    if not residual and (centroids is None) != (assignments is None):
        raise ValueError(
            "centroids and assignments must be passed together (the IVF "
            "probe needs both halves of the landed coarse quantizer)"
        )

    def process(batch: DataFrame, batch_id: int) -> None:
        q = batch.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("embedding")
        )
        if rotation_salt is not None:
            q = rotate_embeddings(q, dim=dim, salt=rotation_salt)
        # scan='batch': a micro-batch is bounded by definition, so the
        # query LUT is collectable and scoring is ONE Arrow gather pass
        # (measured 101 s -> 17 s per 1000-query batch when the probe
        # candidate set blows up at the 200k-vector decade; parity when
        # the coarse lists are sized right -- the batch scan bounds the
        # mis-sizing damage)
        if residual:
            ranked = ivf_pq_residual_topk(
                None,
                q,
                k=1,
                m=m,
                dim=dim,
                n_probe=n_probe,
                centroids=centroids,
                codebooks=codebooks,
                enc=codes,
            )
        elif centroids is not None:
            ranked = ivf_pq_topk(
                None,
                q,
                k=1,
                m=m,
                dim=dim,
                n_probe=n_probe,
                centroids=centroids,
                codebooks=codebooks,
                codes=codes,
                assignments=assignments,
                scan="batch",
            )
        else:
            ranked = pq_topk(codes, q, codebooks, k=1, m=m, dim=dim, scan="batch")
        hits = (
            ranked.where(F.col("score") >= threshold)
            .select(F.col("query_id").alias("__hit_id"))
            .distinct()
        )
        novel = batch.join(
            hits, batch[id_col] == F.col("__hit_id"), "left_anti"
        )
        sink_fn(novel, batch_id)

    return vecs.writeStream.foreachBatch(process)
