"""Physical-plan regression tests (SURVEY §4): the optimizations that
matter at 100 TB must be visible in ``.explain`` — column pruning to the
scan, filter pushdown, broadcast joins for dims, no stray shuffles."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from pyspark_dist_explore_spark.plans.queries import REGISTRY
from tests.conftest import SF_SMOKE


def _explain_df(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _explain(spark, name: str, mode: str = "formatted") -> str:
    return _explain_df(REGISTRY[name].build(spark, SF_SMOKE), mode)


def _plan(spark, name: str) -> str:
    return _explain(spark, name, "formatted")


def test_histogram_scan_pruned_and_pushed(spark):
    plan = _plan(spark, "hist_lineitem_price")
    # scans read ONLY the histogram column
    assert "ReadSchema: struct<l_extendedprice:double>" in plan
    assert "PushedFilters: [IsNotNull(l_extendedprice)]" in plan
    # stats side joins via broadcast, not shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_histogram_single_count_shuffle(spark):
    plan = _plan(spark, "hist_lineitem_price")
    # exchanges: 1 for the stats agg (SinglePartition) + 1 for the count agg
    assert plan.count("+- Exchange") + plan.count(":- Exchange") <= 2


def test_star_join_broadcasts_dims(spark):
    plan = _plan(spark, "q5_nation_revenue")
    assert "BroadcastHashJoin" in plan
    # the region filter reaches the region scan
    assert any(
        "PushedFilters" in line and "EqualTo(r_name,AMERICA)" in line
        for line in plan.splitlines()
    )


def test_q1_scan_prunes_columns(spark):
    plan = _plan(spark, "q1_pricing_summary")
    # only the 5 needed columns are read (not all 11)
    assert "l_quantity" in plan and "l_comment" not in plan
    for scan_schema in [s for s in plan.splitlines() if "ReadSchema" in s]:
        assert "l_orderkey" not in scan_schema  # not needed by Q1


def test_topk_filter_pushed_through_window(spark):
    plan = _plan(spark, "q3_top_orders")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


@pytest.mark.parametrize("name", ["hist_lineitem_price", "q1_pricing_summary"])
def test_whole_stage_codegen(spark, name):
    codegen = _explain(spark, name, "codegen")
    assert "WholeStageCodegen" in codegen


def test_minhash_no_cartesian_product(spark):
    """LSH banding must join on (band, band_hash) equi-keys — a
    CartesianProduct in the plan means the pruning is broken."""
    plan = _plan(spark, "neardup_minhash_lsh")
    assert "CartesianProduct" not in plan
    # r14: the registered form derives snapshot AND batch signature
    # tables from ONE staged full-corpus signature frame, so the final
    # plan reads a checkpointed RDD and the min aggregate executes
    # inside the checkpoint materialization (the simhash precedent
    # below) — pin the map-side partial on the signature subtree itself
    from pyspark_dist_explore_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    sig = minhash_signatures(docs, "text", "doc_id", hash_fn="md5")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sig.explain("formatted")
    assert "partial_min" in buf.getvalue()  # signature mins combine map-side


def test_simhash_partial_aggregation(spark):
    plan = _plan(spark, "neardup_simhash")
    assert "CartesianProduct" not in plan
    # r14: the registered form STAGES the signature table, so the final
    # plan reads a checkpointed RDD and the bit-sum aggregate executes
    # inside the checkpoint materialization — pin the map-side partial
    # on the signature subtree itself (what the checkpoint runs)
    from pyspark_dist_explore_spark.operators.dedup import simhash_signatures

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    sig = simhash_signatures(docs, "text", "doc_id", hash_fn="md5")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sig.explain("formatted")
    assert "partial_sum" in buf.getvalue()  # 60 bit-sums combine map-side


def test_blocked_cosine_single_group_shuffle(spark):
    """The blocked matmul shuffles once by block-pair key into the Arrow
    group map; no per-pair join appears in the plan (default blocking)."""
    from pyspark_dist_explore_spark.operators import similarity
    from pyspark_dist_explore_spark.sources.tables import load_table

    df = similarity.cosine_neardup_pairs(
        load_table(spark, SF_SMOKE, "embeddings"), threshold=0.45
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "FlatMapGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_exact_dedup_partial_min(spark):
    plan = _plan(spark, "dedup_exact")
    assert "partial_min" in plan
    assert "Window" not in plan  # min-struct agg replaced the sorted window


def test_winnowing_single_shuffle(spark):
    """Gram construction (lead), gram count, and the sliding minimum all
    share one (doc_id, idx) sort, and the final distinct reuses the
    doc_id hash partitioning — the whole operator is ONE exchange."""
    plan = _plan(spark, "text_winnowing_fp")
    assert "CartesianProduct" not in plan
    n_exchange = sum(
        1 for line in plan.splitlines() if line.strip().startswith("(") and "Exchange" in line
    )
    assert n_exchange == 1, f"expected 1 shuffle, saw {n_exchange}"


def test_ivf_assignment_map_side_partial(spark):
    """Nearest-centroid assignment must be a max_by aggregate (map-side
    partial collapses the replicated crossJoin before the shuffle), never
    a row_number window over the replicated corpus."""
    plan = _plan(spark, "vector_ann_topk")
    assert "partial_max_by" in plan
    # the only row_number windows left are per-QUERY (probe pick + final
    # rank) — none may partition by the corpus vec_id
    for line in plan.splitlines():
        if "row_number()" in line and "Arguments" in line:
            assert "query_id" in line and "[vec_id" not in line


def test_minhash_staged_shingles_single_text_scan(spark):
    """With a localCheckpoint-ed frame passed via ``shingle_rows=``, every
    shingle consumer in minhash_neardup reads the staged blocks: the
    final plan contains ZERO parquet scans (the one corpus-text scan
    happened when the stage materialized) and no cartesian."""
    from pyspark_dist_explore_spark.operators import dedup
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").where("doc_id < 200")
    rows = dedup.shingle_rows(docs, "text", "doc_id", 3).localCheckpoint()
    out = dedup.minhash_neardup(
        docs, "text", "doc_id", threshold=0.8, shingle_rows=rows
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("Scan parquet") == 0, plan
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_document_frequency_join_broadcasts(spark):
    """TF-IDF's df_t side is vocabulary-sized — it must arrive at the tf
    rows as a broadcast hash join, never a sort-merge shuffle of the full
    term-frequency table."""
    plan = _plan(spark, "text_tfidf")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_join_single_window_pass(spark):
    """The as-of join is the union+window form: ONE window pass carries
    the latest order forward — no range cross join, no sort-merge join,
    and at most two hash shuffles (orders pre-dedup by (custkey, epoch) +
    the window partitioning by key)."""
    plan = _plan(spark, "asof_join_events")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") >= 1
    # tree lines only (the detail section repeats each node)
    n_hash_exchanges = (
        plan.count("+- Exchange") + plan.count(":- Exchange")
    )
    assert n_hash_exchanges <= 2, plan


def test_pack_sequences_cumsum_single_shuffle(spark):
    """Cumsum packing must cost exactly ONE exchange (the bucket
    partitioning that the window sort reuses) with a pruned scan."""
    from pyspark_dist_explore_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = pack_sequences(docs, "doc_id", text_col="text", max_tokens=512, buckets=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    n_exchange = sum(
        1 for line in plan.splitlines() if line.strip().startswith("(") and "Exchange" in line
    )
    assert n_exchange == 1, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_shuffle_shards_single_exchange(spark):
    """The training shuffle must cost exactly ONE exchange (hash
    partition by shard, reused by the window sort) — never a global
    single-partition order-by."""
    from pyspark_dist_explore_spark.operators.sampling import shuffle_shards

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = shuffle_shards(docs.select("doc_id", "source"), "doc_id", shards=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    n_exchange = sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(") and "Exchange" in line
    )
    assert n_exchange == 1, plan
    assert "SinglePartition" not in plan, plan


def test_incremental_dedup_bloom_verify_is_broadcast(spark):
    """The bloom path's verify joins must both be broadcast (the
    candidate set broadcasts into the snapshot semi-probe and the
    confirmed hits broadcast into the anti-join) — the snapshot side,
    which is the 100 TB side in production, must never sort-merge."""
    from pyspark_dist_explore_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    new = docs.where(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    seen = docs.where(F.col("doc_id") % 3 == 0).select(
        F.md5(dedup.normalize_text(F.col("text"))).alias("fingerprint")
    )
    out = dedup.incremental_dedup(new, seen, "text", "doc_id", bloom_bits=4096)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_interval_join_equi_key_not_cartesian(spark):
    """The interval join must execute as an EQUI join on the key with the
    time bounds as join-condition filters — never a cartesian/range-only
    join (which would be quadratic per key-partition at scale), and the
    event_type filters must push to the scan."""
    plan = _plan(spark, "events_interval_join")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert "user_id" in plan
    assert any(
        "PushedFilters" in ln and "event_type" in ln for ln in plan.splitlines()
    ), plan


def _sql_plans_run_by(spark, action) -> list[str]:
    """Formatted physical plans of every SQL execution ``action()`` runs,
    read from the session's SQL status store (kept with the UI off)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def plans() -> dict[int, str]:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        ex = store.executionsList()
        return {
            ex.apply(i).executionId(): ex.apply(i).physicalPlanDescription()
            for i in range(ex.length())
        }

    before = set(plans())
    action()
    return [p for i, p in plans().items() if i not in before]


def test_pipeline_scan_pruned_and_pushed(spark):
    """Every parquet scan the composed curation pipeline runs (inside the
    staged deduped intermediate) must read just (doc_id, text) —
    lang/source/n_chars pruned — with the id cap pushed to the scan, and
    the survivor keep-list must arrive as a broadcast (it is a shrunken
    id set, never a shuffle of the corpus)."""
    import pyspark.sql.functions as F

    from pyspark_dist_explore_spark.pipeline import curate_documents
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").where(F.col("doc_id") < 300)
    built = []

    def build_and_collect():
        built.append(curate_documents(docs, "text", "doc_id", min_quality=0.908))
        built[0].collect()

    executed = _sql_plans_run_by(spark, build_and_collect)
    scan_lines = {
        ln
        for p in executed
        for ln in p.splitlines()
        if ln.startswith(("PushedFilters:", "ReadSchema:"))
    }
    assert any("Scan parquet" in p for p in executed)
    assert scan_lines == {
        "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,300)]",
        "ReadSchema: struct<doc_id:bigint,text:string>",
    }, scan_lines
    plan = _explain_df(built[0])
    assert "CartesianProduct" not in plan
    # the survivor join itself must be a broadcast; SortMergeJoins may
    # appear ONLY inside InMemoryRelation nodes (the display of the
    # ALREADY-EXECUTED cached label-propagation rounds, which rightly
    # sort-merge on the id key), never in the live outer plan
    assert "BroadcastHashJoin" in plan
    first_smj = plan.find("SortMergeJoin")
    first_cached = plan.find("InMemoryRelation")
    assert first_smj == -1 or (first_cached != -1 and first_cached < first_smj)


def test_pipeline_materialized_scans_source_once(spark):
    """A default curate_documents call localCheckpoints its deduped
    intermediate: the final plan must read ONLY checkpointed RDDs — zero
    parquet re-scans of the scoring stage for the three downstream
    consumers."""
    from pyspark_dist_explore_spark.pipeline import curate_documents
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").where("doc_id < 200")
    plan = _explain_df(curate_documents(docs))
    assert plan.count("Scan parquet") == 0, plan
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_approx_sketches_single_sketch_execution(spark):
    """Each sketch must execute ONCE — independent builds per output leg
    would re-run merge-order-dependent sketches and multiply scans.  The
    round-8 bound-check form pays exactly FOUR real scans, no more: the
    group-sketch pass, the exact/rank pass joined against it, the
    histogram_numeric sketch, and the global exact stats it is checked
    against (verification needs the exact counterpart of every sketch by
    design; the per-leg outputs stack() off ONE subtree each).
    Formatted mode lists each node twice (tree + details): 4 real scans
    → 8 occurrences."""
    plan = _plan(spark, "approx_sketches")
    assert plan.count("Scan parquet") <= 8
    # the two stack() unpivots keep one subtree per verification frame:
    # any regression to per-leg selects re-inflates the scan count fast
    assert plan.count("Generate") >= 2


def test_registry_oracle_queries_inside_driver_window():
    """The driver records CORRECTNESS rows for the first 50 registry
    entries only — EVERY registered query must land inside that window
    (so every operator gets hard driver signal), with oracle-backed
    queries first.  Adding a 51st query means consolidating, not
    overflowing."""
    from pyspark_dist_explore_spark.plans.queries import DRIVER_CHECK_WINDOW

    flags = [spec.oracle is not None for spec in REGISTRY.values()]
    n_oracle = sum(flags)
    assert len(flags) <= DRIVER_CHECK_WINDOW, (
        f"{len(flags)} registered queries exceed the driver's "
        f"{DRIVER_CHECK_WINDOW}-entry window — consolidate"
    )
    assert all(flags[:n_oracle]), "a rows-only query precedes an oracle-backed one"
    assert not any(flags[n_oracle:]), "an oracle-backed query fell past the window"


def test_decontaminate_broadcast_probe_no_cartesian(spark):
    """The gram probe against the eval set must be a broadcast hash join
    (eval gram sets are benchmark-sized) with map-side partial counts —
    never a cartesian product or a full shuffle of the training grams."""
    plan = _plan(spark, "decontaminate_eval")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_containment_staged_fp_rows_zero_parquet_scans(spark):
    """containment_pairs stages its winnowing fingerprints, so every
    fingerprint consumer (both pair-join sides, doc-freq, sizes) reads
    the staged blocks: the final plan has ZERO parquet scans and no
    cartesian — the corpus text is scanned exactly once, when the stage
    materializes."""
    from pyspark_dist_explore_spark.operators.dedup import containment_pairs
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").where("doc_id < 200")
    plan = _explain_df(containment_pairs(docs, "text", "doc_id", threshold=0.5, max_df=50))
    assert plan.count("Scan parquet") == 0, plan
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def _simhash_pairs(spark):
    from pyspark_dist_explore_spark.operators.dedup import simhash_neardup
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    return simhash_neardup(docs, "text", "doc_id", max_hamming=3)


def _incremental_survivors(spark):
    from pyspark_dist_explore_spark.operators.dedup import (
        incremental_dedup,
        normalize_text,
    )
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    seen = docs.where(F.col("doc_id") % 7 == 0).select(
        F.md5(normalize_text(F.col("text"))).alias("fingerprint")
    )
    batch = docs.where(F.col("doc_id") % 7 != 0)
    return incremental_dedup(batch, seen, "text", "doc_id", bloom_bits=4096)


def _semantic_keep_list(spark):
    from pyspark_dist_explore_spark.operators.similarity import _unit, semantic_dedup
    from pyspark_dist_explore_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), _unit(F.col("embedding")).alias("cv")
    )
    return semantic_dedup(emb, threshold=0.45, n_blocks=1, centroids=cents)


@pytest.mark.parametrize(
    "build, max_scans",
    [(_simhash_pairs, 0), (_incremental_survivors, None), (_semantic_keep_list, None)],
    ids=["simhash_neardup", "incremental_dedup", "semantic_dedup"],
)
def test_default_call_stages_reused_intermediate(spark, build, max_scans):
    """Default calls checkpoint the intermediate their plan reads more
    than once (simhash signatures, the bloom-flagged batch, the semantic
    pair frame): the plan reads it back as an ``ExistingRDD``.  Both
    simhash join sides read the staged signatures, so that plan scans
    no parquet at all."""
    plan = _explain_df(build(spark))
    assert "ExistingRDD" in plan, plan
    if max_scans is not None:
        assert plan.count("Scan parquet") <= max_scans, plan


def test_shuffle_shards_registered_no_global_sort(spark):
    """corpus_shuffle_shards must never plan a global order-by (a
    single-partition funnel at scale): the only exchange is the window's
    hash partition by shard."""
    plan = _plan(spark, "corpus_shuffle_shards")
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("hashpartitioning(shard") == 1, plan


def test_corpus_profile_one_scan_two_exchanges(spark):
    """The EDA card reads the corpus ONCE: a single parquet scan, the
    (group, fingerprint) dedup shuffle with map-side partials, and the
    tiny per-group re-aggregate — nothing else."""
    from pyspark_dist_explore_spark.operators.textstats import corpus_profile
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    out = corpus_profile(docs, "text", "doc_id", group_col="source")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # count detail-section node lines "(n) Op" — the formatted tree
    # repeats every node once in the tree and once in the details
    scans = [l for l in plan.splitlines() if l.strip().startswith("(") and "Scan parquet" in l]
    exchanges = [
        l for l in plan.splitlines()
        if l.strip().startswith("(") and l.strip().endswith("Exchange")
    ]
    assert len(scans) == 1, plan
    assert len(exchanges) == 2, plan
    assert "CartesianProduct" not in plan


def test_histogram_drift_by_group_no_cartesian(spark):
    """Per-group drift: group-keyed hash joins/aggregates only — no
    cartesian, no range partitioning (global sort) — and exactly TWO
    passes over each input frame (stats pass + bucket pass; with ref
    and cur both scanning documents that is 4 parquet scans).  Deriving
    presence/minmax/totals lazily from one frame would re-scan the
    corpus per reference — this pin catches that regression."""
    from pyspark_dist_explore_spark.operators.stats import histogram_drift_by_group
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    out = histogram_drift_by_group(
        docs, docs.where("source = 'src0'"), "n_chars", "lang", bins=8
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan.lower(), plan
    scans = [
        l for l in plan.splitlines()
        if l.strip().startswith("(") and "Scan parquet" in l
    ]
    assert len(scans) <= 4, f"expected <=4 scans (2 per input frame): {len(scans)}"


# --------------------------------------------------------------------------
# staging localCheckpoints
# --------------------------------------------------------------------------


def test_lazy_checkpoint_staging_matches_forced_eager(spark):
    """r14: every staging localCheckpoint is lazy (eager=False) — the
    first consuming action materializes the blocks instead of a
    dedicated build-time job.  Eagerness is pure action TIMING, never
    content: forcing every checkpoint back to eager=True must reproduce
    the registered rows bit-for-bit (covers the resolve loop's merged
    convergence-count materialization, the semdedup pair stage, and the
    staged section frames)."""
    from pyspark.sql import DataFrame

    from pyspark_dist_explore_spark.plans.queries import REGISTRY

    slots = [
        "neardup_clusters",
        "pipeline_curate",
        "text_scrub_repetition",
        "multimodal_features",
    ]
    shipped = {
        s: sorted(map(tuple, REGISTRY[s].build(spark, SF_SMOKE).collect()))
        for s in slots
    }
    orig = DataFrame.localCheckpoint
    # tolerate signature drift (PySpark 4.x adds storageLevel): force
    # eagerness whatever the callsite passed (r14 advisor item)
    DataFrame.localCheckpoint = lambda self, *a, **kw: orig(self, eager=True)
    try:
        for s in slots:
            forced = sorted(map(tuple, REGISTRY[s].build(spark, SF_SMOKE).collect()))
            assert forced == shipped[s], s
    finally:
        DataFrame.localCheckpoint = orig


def test_semantic_pairs_plan_shape(spark):
    """X22 scale pins: the centroid grid is a BROADCAST nested-loop (never
    a cartesian of data × data), the assignment argmax collapses with
    map-side partial_max_by BEFORE the exchange, the only Python
    crossing is the blocked-matmul applyInPandas (no row-at-a-time
    BatchEvalPython anywhere), and the whole chain reads the embedding
    source at most twice (vector side + centroid side)."""
    from pyspark_dist_explore_spark.operators.similarity import _unit, semantic_pairs
    from pyspark_dist_explore_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    cents = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), _unit(F.col("embedding")).alias("cv")
    )
    out = semantic_pairs(
        emb, threshold=0.45, n_blocks=2, centroids=cents, assign_round=6
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_max_by" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "FlatMapGroupsInPandas" in plan
    scans = [
        l for l in plan.splitlines()
        if l.strip().startswith("(") and "Scan parquet" in l
    ]
    assert len(scans) <= 2, f"expected <=2 embedding scans, got {len(scans)}"


def test_assign_domains_plan_shape(spark):
    """X47 scale pins: the domain assignment is the IVF pattern with the
    vector payload DROPPED from the aggregation buffer — broadcast
    nested-loop against the K centroids (never a data × data
    cartesian), map-side partial_max_by BEFORE the one exchange, zero
    Python stages, and ONE scan of the embedding source on the vector
    side."""
    from pyspark_dist_explore_spark.operators.similarity import (
        _unit,
        assign_domains,
    )
    from pyspark_dist_explore_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), _unit(F.col("embedding")).alias("cv")
    )
    out = assign_domains(emb, cents, assign_round=6)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_max_by" in plan, plan
    # the max_by buffer must NOT carry the vector — the struct payload
    # is (sim, neg_cent) + the bare cent_id label
    assert "best.vv" not in plan


def test_ivf_fixed_plan_shape(spark):
    """Round-8 IVF promotion scale pins on the registered query's float
    branch: the fixed-centroid grid is a BROADCAST nested-loop (never a
    data × data cartesian), the assignment argmax collapses map-side
    (partial_max_by before the exchange), probes broadcast into the
    probe join, and no row-at-a-time Python appears anywhere in the
    float section (the packed branch's Arrow UDF is ArrowEvalPython, by
    design)."""
    from pyspark_dist_explore_spark.operators.similarity import _unit, ivf_topk
    from pyspark_dist_explore_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), _unit(F.col("embedding")).alias("cv")
    )
    out = ivf_topk(emb, q, k=5, n_probe=2, centroids=cents, assign_round=6)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_max_by" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan
    # re-rank join on cent_id: the probe side must broadcast
    assert "BroadcastHashJoin" in plan


def test_temperature_resample_broadcast_thresholds_no_corpus_shuffle(spark):
    """X24 scale pins: the per-group threshold frame joins back via
    BROADCAST (the corpus side never shuffles for the keep predicate),
    the group-count aggregate combines map-side (partial_count), and
    the keep predicate is pure codegen — no Python evaluation."""
    from pyspark_dist_explore_spark.operators.sampling import temperature_resample
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang")
    out = temperature_resample(docs, "lang", "doc_id", coeff=4.0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_span_dedup_no_window_in_gram_build(spark):
    """X23 scale pins: the k-gram build is row-local array work (no
    Window exchange/sort feeding the gram frame — the plan's only sorts
    belong to aggregate/join machinery), duplicate detection combines
    map-side (partial_count), and no Python evaluation appears."""
    from pyspark_dist_explore_spark.operators.textstats import drop_duplicate_spans
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    out = drop_duplicate_spans(docs, "text", "doc_id", k=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan, "gram build must not window-shuffle the token stream"
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_stratified_take_exact_single_exchange_no_global_sort(spark):
    """X26 scale pins: the per-stratum rank is ONE hash-partition window
    (same single-exchange shape as shuffle_shards) — a per-partition
    sort under the window, never a global range sort of the corpus."""
    from pyspark_dist_explore_spark.operators.sampling import stratified_take_exact
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang")
    out = stratified_take_exact(docs, "lang", "doc_id", {"en": 10, "zh": 5})
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    n_exchange = sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(") and "Exchange" in line
    )
    assert n_exchange == 1, f"expected 1 shuffle, saw {n_exchange}\n{plan}"
    assert "rangepartitioning" not in plan.lower(), "no global sort"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_minhash_snapshot_never_shuffles(spark):
    """X27 scale pins: the snapshot's band and signature artifacts are
    probed with BROADCAST joins only (the batch side broadcasts) — no
    sort-merge join, no cartesian, and the only exchanges in the plan
    belong to the BATCH's own signature aggregation (batch-sized by
    premise), never to a snapshot-side repartition."""
    from pyspark_dist_explore_spark.operators.dedup import (
        incremental_minhash_neardup,
        minhash_band_rows,
        minhash_signatures,
    )
    from pyspark_dist_explore_spark.sources.tables import load_table

    snapshot = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    batch = snapshot.where(F.col("doc_id") < 10)
    kw = dict(num_hashes=32, bands=8, shingle_n=3, hash_fn="xxhash64")
    bands_df = minhash_band_rows(snapshot, "text", "doc_id", **kw)
    sigs_df = minhash_signatures(
        snapshot, "text", "doc_id", num_hashes=32, shingle_n=3, hash_fn="xxhash64"
    )
    out = incremental_minhash_neardup(
        batch, bands_df, sigs_df, "text", "doc_id", threshold=0.5, **kw
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3, "bands probe + semi + pair joins"


def test_text_perplexity_staged_plan_rides_checkpoint(spark):
    """The registered slot reads ZERO parquet scans in its final plan:
    both LM scorers, the KN aggregates AND the DSIR gram/count subtrees
    consume the one checkpointed pair frame, and no Python stage appears
    anywhere."""
    df = REGISTRY["text_perplexity"].build(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cap_per_key_single_exchange_no_global_sort(spark):
    """X41 scale pins: the per-host cap is ONE hash-partition window
    (the stratified_take_exact shape) — per-partition sort under the
    window, never a global range sort, no Python anywhere."""
    from pyspark_dist_explore_spark.operators.sampling import cap_per_key
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text", "source")
    out = cap_per_key(docs, "source", "doc_id", 5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    n_exchange = sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(") and "Exchange" in line
    )
    assert n_exchange == 1, f"expected 1 shuffle, saw {n_exchange}\n{plan}"
    assert "rangepartitioning" not in plan.lower(), "no global sort"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_encode_row_local_no_python(spark):
    """X40 scale pins: applying a learned merge table is pure row-local
    expression work — zero exchanges, zero Python eval nodes (the merge
    list is k literals folded into the projection)."""
    from pyspark_dist_explore_spark.operators.textstats import bpe_encode
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    out = bpe_encode(docs, "text", "doc_id", [("e r", "er"), ("i n", "in")])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, f"expected zero shuffles\n{plan}"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_top_frac_per_group_single_exchange_no_global_sort(spark):
    """X45 scale pins: rank AND group size ride ONE hash-partition
    window exchange (same partition spec — Catalyst collapses the two
    window functions); never a global range sort, no Python."""
    from pyspark_dist_explore_spark.operators.sampling import top_frac_per_group
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", F.length("text").alias("score")
    )
    out = top_frac_per_group(docs, "source", "score", (1, 4), "doc_id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    n_exchange = sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(") and "Exchange" in line
    )
    assert n_exchange == 1, f"expected 1 shuffle, saw {n_exchange}\n{plan}"
    assert "rangepartitioning" not in plan.lower(), "no global sort"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_materialize_mixture_plan_shape(spark):
    """X44 scale pins: one window exchange for the per-source running
    sum, the K-row totals joined via BroadcastHashJoin (never a
    shuffled join of the corpus against its own totals), epoch
    replication by explode/generate — no Python, no global sort."""
    from pyspark_dist_explore_spark.operators.sampling import materialize_mixture
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", F.length("text").cast("bigint").alias("n_tok")
    )
    out = materialize_mixture(
        docs, "source", "n_tok", "doc_id", {"src0": 10_000, "src1": 50}
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, f"totals must broadcast\n{plan}"
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "rangepartitioning" not in plan.lower(), "no global sort"
    assert "Generate" in plan, "epoch replication must be an explode"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corpus_overlap_matrix_staged_single_text_scan(spark):
    """X43 scale pins: with the default staging, the corpus text is
    scanned+fingerprinted ONCE — the three consumers of the
    (src, fp, docs) table read checkpoint blocks, so the executed plan
    shows exactly one parquet scan of the documents table; pair totals
    ride broadcast joins."""
    from pyspark_dist_explore_spark.operators.dedup import corpus_overlap_matrix
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    out = corpus_overlap_matrix(docs)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 1, f"staging must collapse scans\n{plan}"
    assert "SortMergeJoin" not in plan or "fp" in plan  # fp self-join may SMJ
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

def test_unigram_encode_plan_python_only_on_type_subtree(spark):
    """X48 encode scale shape: exactly ONE Arrow-batched Python stage
    (the per-DISTINCT-word Viterbi), a broadcast hash join back onto
    the exploded tokens, no row-at-a-time Python, no sort-merge join —
    the corpus-sized branches stay fully JVM-side."""
    from pyspark_dist_explore_spark.operators.textstats import (
        unigram_encode,
        unigram_lm_learn,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vocab = unigram_lm_learn(
        docs, "text", vocab_size=16, max_piece_len=3, seed_size=32, em_rounds=1
    )
    plan = (
        unigram_encode(docs, "text", "doc_id", vocab)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan



def test_proportional_interleave_plan_shape(spark):
    """X53 scale pins: zero Python stages; the big-table rank window
    partitions by (group, sub-shard) — never a per-group
    single-partition funnel — and the closed-form position is a
    row-local projection (no join back to a global sort, no extra
    exchange after the rank)."""
    from pyspark_dist_explore_spark.operators.sampling import (
        proportional_interleave,
    )
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    out = proportional_interleave(
        docs,
        "source",
        "doc_id",
        weights={f"src{i}": 1 + (i % 5) for i in range(20)},
        salt="il0",
        shards=16,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the rank window's partition spec must carry the sub-shard column
    # beside the group — the two-level construction, not PARTITION BY
    # group alone (which would funnel each source into one task)
    win = [ln for ln in plan.splitlines() if "row_number()" in ln and "__sh" in ln]
    assert win, plan
    # offsets join is broadcast (K*S-row side), not a shuffle join
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_kn_bigram_plan_shape(spark):
    """X54 scale pins: the KN scorer stays JVM-side (zero Python
    stages), builds no cartesian product, and its three smoothing
    tables (continuation / fertility+context / (B,V) totals) come back
    as broadcasts — the corpus-sized side is never shuffled for a
    vocab-sized join."""
    from pyspark_dist_explore_spark.operators.textstats import (
        kn_bigram_logprob_scores,
    )
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    out = kn_bigram_logprob_scores(docs, "text", "doc_id", count_stats=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    # the per-doc reduction is one hash aggregate with map-side partials
    assert "partial_count" in plan or "partial_sum" in plan


def test_sample_negatives_plan_shape(spark):
    """X63 scale pins: zero Python stages, no cartesian product; the
    rank window partitions by the sub-shard (never a single global
    funnel for the corpus-wide rank), the S-row offsets join is
    broadcast, and the draw->negative resolution is a hash equi-join
    on the BIGINT rank key."""
    from pyspark_dist_explore_spark.operators.sampling import sample_negatives
    from pyspark_dist_explore_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "source")
    out = sample_negatives(docs, "doc_id", k=3, salt="p0", group_col="source")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    win = [ln for ln in plan.splitlines() if "row_number()" in ln and "__sh" in ln]
    assert win, plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the negative resolution joins on the rank key, not a nested loop
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_encode_plan_shape(spark):
    """X64 scale pins: encoding is ONE Arrow pass over the vector rows —
    exactly one ArrowEvalPython stage, no Exchange (no shuffle, no
    join), no cartesian product."""
    from pyspark.sql import functions as F2
    from pyspark_dist_explore_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id",
        F2.transform(
            F2.col("embedding").cast("array<double>"),
            lambda x: F2.round(x * F2.lit(1e6)),
        ).alias("embedding"),
    )
    cb = similarity.pq_codebooks(emb, m=8, dim=64, n_codes=16)
    codes = similarity.pq_encode(emb, cb, m=8, dim=64)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        codes.explain("formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" in plan  # the single Arrow pass
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_pq_plan_no_cartesian_scan(spark):
    """X66 scale pins: the composed serving plan carries no cartesian
    product over the corpus (the only nested-loop joins are against the
    broadcast n_centroids frame), and the candidate restriction keeps
    the LUT scan an equi-join."""
    from pyspark.sql import functions as F2
    from pyspark_dist_explore_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id",
        F2.transform(
            F2.col("embedding").cast("array<double>"),
            lambda x: F2.round(x * F2.lit(1e6)),
        ).alias("embedding"),
    )
    q = emb.where(F2.col("vec_id") < 3).select(
        F2.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_pq_topk(
        emb, q, k=5, m=8, dim=64, n_codes=16, n_centroids=16, n_probe=4
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    # corpus-side joins are broadcast (centroids, probes, candidates, LUT)
    assert "BroadcastExchange" in plan


def test_section_slots_compose_their_sections(spark):
    """A slot registered from its section builder is exactly the union
    of its section frames, so the per-section bench times measure the
    frames the slot runs."""
    for name in ("corpus_shuffle_shards", "corpus_token_budget"):
        spec = REGISTRY[name]
        parts = spec.sections(spark, SF_SMOKE)
        got = sorted(
            repr(sorted(r.asDict().items())) for df in parts.values() for r in df.collect()
        )
        want = sorted(
            repr(sorted(r.asDict().items())) for r in spec.build(spark, SF_SMOKE).collect()
        )
        assert got == want, name
