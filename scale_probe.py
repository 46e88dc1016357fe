#!/usr/bin/env python
"""10× scale probes for the bucketed LLM-pipeline operators (BASELINE.md).

Each probe runs an operator at 1× and 10× of the sf0.1 corpus and prints
wall time + output/candidate counts.  The 10× corpora are built by
union-ing id-remapped copies that stay DISJOINT in the operator's key
space (shifted orderkeys / copy-prefixed tokens / remapped vec_ids), so
measured growth reflects the operator's scaling shape — the bucketed
paths should grow ~linearly, never quadratically.

Usage: python scale_probe.py  [SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1]
                              [SPARK_GRAFT_CPUS=<host CPU count>]
Prints one JSON line per probe.
"""

from __future__ import annotations

import json
import os
import time
from functools import reduce

from pyspark.sql import DataFrame, functions as F


def timed(df: DataFrame) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = df.count()
    return round(time.perf_counter() - t0, 3), n


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("scale-probe")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark_dist_explore_spark.operators import dedup, similarity

    # -- dedup_exact: 600k → 6M lineitem rows, key space scaled 10× --------
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li10 = reduce(
        DataFrame.unionAll,
        [
            li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * 100_000_000))
            for i in range(10)
        ],
    )
    ties = ["l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"]
    t1, n1 = timed(dedup.exact_dedup(li, ["l_orderkey"], ties))
    t10, n10 = timed(dedup.exact_dedup(li10, ["l_orderkey"], ties))
    print(json.dumps({"probe": "dedup_exact", "t_1x": t1, "t_10x": t10,
                      "rows_1x": n1, "rows_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- minhash LSH candidates: 10× docs, token spaces disjoint per copy --
    # (copy-prefixing every token keeps each copy's near-dup structure but
    # makes buckets disjoint across copies — candidate growth measures the
    # banding, not the synthetic corpus's everything-matches-everything
    # degeneracy)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    docs10 = reduce(
        DataFrame.unionAll,
        [
            docs.select(
                (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                F.concat(
                    F.lit(f"x{i} "), F.regexp_replace(F.col("text"), " ", f" x{i}")
                ).alias("text"),
            )
            for i in range(10)
        ],
    )
    t1, n1 = timed(dedup.minhash_candidates(docs, "text", "doc_id",
                                            num_hashes=32, bands=8, shingle_n=1))
    t10, n10 = timed(dedup.minhash_candidates(docs10, "text", "doc_id",
                                              num_hashes=32, bands=8, shingle_n=1))
    print(json.dumps({"probe": "minhash_lsh_candidates", "t_1x": t1, "t_10x": t10,
                      "cands_1x": n1, "cands_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- neardup_clusters: 10× disjoint pair graphs ------------------------
    # (copy-shifted ids keep each copy's component structure; rounds are
    # bounded by the 1× diameter, so 10× data must cost ~1× iterations —
    # growth measures the per-round join+agg, which is linear)
    pairs = dedup.jaccard_pairs_exact(
        docs.where(F.col("doc_id") < 1000), "text", "doc_id", threshold=0.9
    ).persist()
    pairs.count()
    pairs10 = reduce(
        DataFrame.unionAll,
        [
            pairs.select(
                (F.col("doc_a") + F.lit(i * 1_000_000)).alias("doc_a"),
                (F.col("doc_b") + F.lit(i * 1_000_000)).alias("doc_b"),
            )
            for i in range(10)
        ],
    ).persist()
    pairs10.count()
    # time the BUILD too: the propagation rounds run eagerly inside
    # neardup_clusters (localCheckpoint per round), so timing only the
    # final count would miss all the real work
    t0 = time.perf_counter()
    n1 = dedup.neardup_clusters(pairs).count()
    t1 = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    n10 = dedup.neardup_clusters(pairs10).count()
    t10 = round(time.perf_counter() - t0, 3)
    print(json.dumps({"probe": "neardup_clusters", "t_1x": t1, "t_10x": t10,
                      "rows_1x": n1, "rows_10x": n10, "ratio": round(t10 / t1, 2)}))
    pairs.unpersist(), pairs10.unpersist()

    # -- pipeline_curate end-to-end: 10× documents via disjoint copies -----
    # (same copy-prefixed-token construction as the minhash probe: each
    # copy keeps its internal near-dup structure, copies stay disjoint in
    # fingerprint AND shingle space so the exact-dedup and pair stages
    # measure operator scaling, not cross-copy degeneracy.  Quality/lang
    # scoring still runs on every row; the filters are left open because
    # token-prefixing would strip the language markers asymmetrically.
    # Expected curve: ≤~4× for 10× docs — bounded by cluster resolution,
    # the same shape as the standalone neardup_clusters probe.)
    from pyspark_dist_explore_spark.pipeline import curate_documents, minhash_pair_fn

    def run_curate(d: DataFrame) -> tuple[float, int]:
        # build + count together: scoring scan, dedup, pair generation and
        # the propagation rounds all run eagerly inside curate_documents
        t0 = time.perf_counter()
        n = curate_documents(
            d, "text", "doc_id", min_quality=0.0,
            pair_fn=minhash_pair_fn(threshold=0.8),
        ).count()
        return round(time.perf_counter() - t0, 3), n

    t1, n1 = run_curate(docs)
    t10, n10 = run_curate(docs10)
    print(json.dumps({"probe": "pipeline_curate", "t_1x": t1, "t_10x": t10,
                      "rows_1x": n1, "rows_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- duplicate-SKEW dedup: one hot key = 10% of all rows ---------------
    # (the r6 pytest pins correctness under skew; this probe adds the wall
    # curve: AQE must split the hot hash-agg partition so 10× skewed data
    # costs ~linear time, not a straggler-dominated cliff.  The min-struct
    # survivor is a partial aggregate, so the hot key's 60k/600k rows
    # combine map-side before the exchange — the probe verifies that holds.)
    hot = F.when(F.rand(7) < 0.1, F.lit(1)).otherwise(F.col("l_orderkey"))
    li_skew = li.withColumn("l_orderkey", hot)
    li_skew10 = li10.withColumn("l_orderkey", hot)
    t1, n1 = timed(dedup.exact_dedup(li_skew, ["l_orderkey"], ties))
    t10, n10 = timed(dedup.exact_dedup(li_skew10, ["l_orderkey"], ties))
    print(json.dumps({"probe": "dedup_exact_hotkey10pct", "t_1x": t1, "t_10x": t10,
                      "rows_1x": n1, "rows_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- fingerprint dedup under text skew: one text = 10% of docs ---------
    # (same hot-key story one level up: 10% of documents share ONE byte-
    # identical text → one md5 fingerprint owns 10% of the corpus)
    hot_text = F.when(F.rand(11) < 0.1, F.lit("the same boilerplate page")).otherwise(
        F.col("text")
    )
    t1, n1 = timed(dedup.fingerprint_dedup(docs.withColumn("text", hot_text),
                                           "text", "doc_id"))
    t10, n10 = timed(dedup.fingerprint_dedup(docs10.withColumn("text", hot_text),
                                             "text", "doc_id"))
    print(json.dumps({"probe": "fingerprint_dedup_hottext10pct", "t_1x": t1,
                      "t_10x": t10, "rows_1x": n1, "rows_10x": n10,
                      "ratio": round(t10 / t1, 2)}))

    # -- simhash near-dup: 10× docs, disjoint token spaces -----------------
    # (probe below reuses docs/docs10 built for the minhash candidates)
    # (same copy-prefixed construction: each copy keeps its internal
    # near-dup structure, chunk buckets stay disjoint across copies)
    t1, n1 = timed(dedup.simhash_neardup(docs, "text", "doc_id", max_hamming=3))
    t10, n10 = timed(dedup.simhash_neardup(docs10, "text", "doc_id", max_hamming=3))
    print(json.dumps({"probe": "simhash_neardup", "t_1x": t1, "t_10x": t10,
                      "pairs_1x": n1, "pairs_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- winnowing fingerprints: 10× docs ----------------------------------
    # (per-doc operator — one (doc_id, idx) shuffle+sort; growth must be
    # ~linear in rows, the partition count is the only shared state)
    from pyspark_dist_explore_spark.operators.textstats import winnowing_fingerprints

    t1, n1 = timed(winnowing_fingerprints(docs, "text", "doc_id"))
    t10, n10 = timed(winnowing_fingerprints(docs10, "text", "doc_id"))
    print(json.dumps({"probe": "winnowing_fp", "t_1x": t1, "t_10x": t10,
                      "fps_1x": n1, "fps_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- IVF top-k: 10× vectors, same 20 queries, WITH recall@k ------------
    # (recall vs the exact brute-force top-k at the same scale: the time
    # curve alone can't justify bucket counts — a fast ANN that stops
    # finding the true neighbors at 10× would pass silently)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # copies get DISTINCT vectors via per-copy coordinate rotation (norms
    # and intra-copy cosines preserved exactly): verbatim copies would
    # make every query's true neighbors its own duplicates — recall@k
    # would read 1.0 trivially at 10× instead of measuring anything
    emb10 = reduce(
        DataFrame.unionAll,
        [
            emb.select(
                (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"),
                F.expr(
                    f"concat(slice(embedding, {i + 1}, size(embedding) - {i}), "
                    f"slice(embedding, 1, {i}))"
                ).alias("embedding"),
            )
            for i in range(10)
        ],
    )
    q = emb.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("query_id"), "embedding")

    def recall_at_k(ann: DataFrame, base: DataFrame, k: int = 5) -> float:
        exact = similarity.exact_topk(base, q, k=k).select("query_id", "vec_id")
        hit = ann.select("query_id", "vec_id").intersect(exact).count()
        return round(hit / exact.count(), 3)

    t1, n1 = timed(similarity.ivf_topk(emb, q, k=5, n_centroids=16, n_probe=4))
    t10, n10 = timed(similarity.ivf_topk(emb10, q, k=5, n_centroids=16, n_probe=4))
    r1 = recall_at_k(similarity.ivf_topk(emb, q, k=5, n_centroids=16, n_probe=4), emb)
    r10 = recall_at_k(similarity.ivf_topk(emb10, q, k=5, n_centroids=16, n_probe=4), emb10)
    print(json.dumps({"probe": "vector_ivf_topk", "t_1x": t1, "t_10x": t10,
                      "rows_1x": n1, "rows_10x": n10, "ratio": round(t10 / t1, 2),
                      "recall_1x": r1, "recall_10x": r10}))

    lsh1 = similarity.ann_lsh_topk(emb, q, k=5, n_planes=4)
    lsh10 = similarity.ann_lsh_topk(emb10, q, k=5, n_planes=4)
    t1, n1 = timed(lsh1)
    t10, n10 = timed(lsh10)
    print(json.dumps({"probe": "vector_lsh_topk", "t_1x": t1, "t_10x": t10,
                      "rows_1x": n1, "rows_10x": n10, "ratio": round(t10 / t1, 2),
                      "recall_1x": recall_at_k(lsh1, emb),
                      "recall_10x": recall_at_k(lsh10, emb10)}))

    # -- greedy sequence packing: 10× docs + utilization -------------------
    # (cumsum mode's curve is pinned by its window-SQL shape; greedy is
    # the Python-per-bucket path, so measure BOTH its growth and its
    # pack utilization = total_tokens / (packs × budget) over non-
    # oversize packs — the number that justifies packing at all)
    from pyspark_dist_explore_spark.operators.packing import pack_sequences

    def pack_stats(d: DataFrame, max_tokens: int = 512) -> tuple[float, int, float]:
        out = pack_sequences(
            d, "doc_id", text_col="text", max_tokens=max_tokens, buckets=32,
            mode="greedy",
        )
        t0 = time.perf_counter()
        agg = (
            out.where(F.col("oversize") == 0)
            .groupBy("pack_id")
            .agg(F.sum("n_tokens").alias("tok"))
            .agg(F.count(F.lit(1)).alias("packs"), F.sum("tok").alias("tokens"))
            .collect()[0]
        )
        dt = round(time.perf_counter() - t0, 3)
        util = round(agg["tokens"] / (agg["packs"] * max_tokens), 3)
        return dt, agg["packs"], util

    t1, p1, u1 = pack_stats(docs)
    t10, p10, u10 = pack_stats(docs10)
    print(json.dumps({"probe": "pack_greedy", "t_1x": t1, "t_10x": t10,
                      "packs_1x": p1, "packs_10x": p10,
                      "util_1x": u1, "util_10x": u10,
                      "ratio": round(t10 / t1, 2)}))

    # -- eval-set decontamination: 10× training corpus, fixed eval side ----
    # (the realistic shape: benchmarks stay constant while training data
    # grows — the broadcast probe must scale ~linearly in training grams)
    from pyspark_dist_explore_spark.operators.decontam import decontaminate

    ev = docs.where(F.col("doc_id") % 10 == 0)
    tr1 = docs.where(F.col("doc_id") % 10 != 0)
    # keep copy 0 VERBATIM (docs10 token-prefixes every copy): the fixed
    # eval set then flags the same docs at both scales — the prefixed
    # copies are pure distractor growth, which is what the probe measures
    tr10 = docs.unionAll(docs10.where(F.col("doc_id") >= 1_000_000)).where(
        F.col("doc_id") % 10 != 0
    )
    t1, n1 = timed(
        decontaminate(tr1, ev, "text", "doc_id", ngram_n=13)
        .where(F.col("contaminated") == 1)
    )
    t10, n10 = timed(
        decontaminate(tr10, ev, "text", "doc_id", ngram_n=13)
        .where(F.col("contaminated") == 1)
    )
    print(json.dumps({"probe": "decontaminate", "t_1x": t1, "t_10x": t10,
                      "flagged_1x": n1, "flagged_10x": n10,
                      "ratio": round(t10 / t1, 2)}))

    # -- corpus token budget: 10× docs, FIXED budgets ----------------------
    # (the mixture stage's shuffle is the ≤ strata·bins-row aggregate, so
    # growth must be scan-bound ~linear; the admitted token volume stays
    # pinned at the budget whatever the corpus size)
    from pyspark_dist_explore_spark.operators.sampling import (
        select_by_token_budget_stratified,
        shuffle_shards,
    )
    from pyspark_dist_explore_spark.operators.textstats import quality_ratio_exprs

    docs_s = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    docs_s10 = reduce(
        DataFrame.unionAll,
        [
            docs_s.select(
                (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                "text",
                "source",
            )
            for i in range(10)
        ],
    )

    def budget_in(d: DataFrame) -> DataFrame:
        t = F.col("text")
        norm = dedup.normalize_text(t)
        n_tok = (
            F.when(norm == "", 0).otherwise(F.size(F.split(norm, " ")))
        ).cast("bigint")
        _, _, q = quality_ratio_exprs(t)
        return d.select(
            "doc_id", "source", F.round(q, 6).alias("quality"), n_tok.alias("n_tok")
        )

    budgets = {f"src{i}": 5000 for i in range(20)}
    t1, n1 = timed(
        select_by_token_budget_stratified(
            budget_in(docs_s), "source", "quality", "n_tok", budgets
        )
    )
    t10, n10 = timed(
        select_by_token_budget_stratified(
            budget_in(docs_s10), "source", "quality", "n_tok", budgets
        )
    )
    print(json.dumps({"probe": "corpus_token_budget", "t_1x": t1, "t_10x": t10,
                      "kept_1x": n1, "kept_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- incremental dedup (bloom path): 10× new batch, FIXED snapshot -----
    # (the realistic shape: the shipped corpus is constant, batches grow;
    # copy-prefixed docs10 content is all-new, the verbatim docs rows are
    # the re-crawl overlap — identical at both scales, so output growth
    # isolates the genuinely-new volume and time must stay ~linear)
    seen_fps = docs.select(
        F.md5(dedup.normalize_text(F.col("text"))).alias("fingerprint")
    )
    batch1 = docs10.where(F.col("doc_id") >= 9_000_000).unionAll(docs)
    batch10 = docs10.unionAll(docs)
    t1, n1 = timed(
        dedup.incremental_dedup(
            batch1, seen_fps, "text", "doc_id", bloom_bits=1 << 20, bloom_hashes=7
        )
    )
    t10, n10 = timed(
        dedup.incremental_dedup(
            batch10, seen_fps, "text", "doc_id", bloom_bits=1 << 20, bloom_hashes=7
        )
    )
    print(json.dumps({"probe": "dedup_incremental", "t_1x": t1, "t_10x": t10,
                      "new_1x": n1, "new_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- training shuffle + shard: 10× docs --------------------------------
    # (one exchange + per-shard sort; must grow ~linearly, never like a
    # global order-by)
    t1, n1 = timed(shuffle_shards(docs, "doc_id", shards=64))
    t10, n10 = timed(shuffle_shards(docs10, "doc_id", shards=64))
    print(json.dumps({"probe": "shuffle_shards", "t_1x": t1, "t_10x": t10,
                      "rows_1x": n1, "rows_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- line-level dedup + corpus profile: 10× docs -----------------------
    # (line-dedup: trimmed-line DF agg + anti-join + per-doc rebuild, all
    # hash-keyed; profile: one scan + one group-keyed aggregate — both
    # must grow ~linearly.  Docs get synthetic line breaks every ~12
    # words; copy-prefixed tokens keep each copy's boilerplate disjoint)
    from pyspark_dist_explore_spark.operators.textstats import (
        corpus_profile,
        drop_repeated_lines,
    )

    lined = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.regexp_replace(F.col("text"), r"((?:\S+\s+){12})", "$1\n").alias("text"),
        "source",
    )
    lined10 = reduce(
        DataFrame.unionAll,
        [
            lined.select(
                (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                F.concat(
                    F.lit(f"x{i} "), F.regexp_replace(F.col("text"), " ", f" x{i}")
                ).alias("text"),
                "source",
            )
            for i in range(10)
        ],
    )
    t1, n1 = timed(drop_repeated_lines(lined, "text", "doc_id", min_df=5))
    t10, n10 = timed(drop_repeated_lines(lined10, "text", "doc_id", min_df=5))
    print(json.dumps({"probe": "drop_repeated_lines", "t_1x": t1, "t_10x": t10,
                      "docs_1x": n1, "docs_10x": n10, "ratio": round(t10 / t1, 2)}))
    t1, n1 = timed(corpus_profile(lined, "text", "doc_id", group_col="source"))
    t10, n10 = timed(corpus_profile(lined10, "text", "doc_id", group_col="source"))
    print(json.dumps({"probe": "corpus_profile", "t_1x": t1, "t_10x": t10,
                      "groups_1x": n1, "groups_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- span dedup (X23): gram build + corpus-wide dup aggregate + rebuild.
    # Copy-prefixed tokens keep each copy's duplicated spans disjoint, so
    # the duplicated-gram table, coverage explode, and rebuild all scale
    # exactly with the corpus — output docs must be exactly linear.
    from pyspark_dist_explore_spark.operators.textstats import drop_duplicate_spans

    t1, n1 = timed(drop_duplicate_spans(docs, "text", "doc_id", k=8))
    t10, n10 = timed(drop_duplicate_spans(docs10, "text", "doc_id", k=8))
    print(json.dumps({"probe": "span_dedup", "t_1x": t1, "t_10x": t10,
                      "docs_1x": n1, "docs_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- classifier gate (X29): 10× docs -----------------------------------
    # (pure row-local projection — the wall should track the scan almost
    # exactly; there is no shuffle/join/explode to go super-linear)
    from pyspark_dist_explore_spark.operators.textstats import classifier_score

    t1, n1 = timed(classifier_score(docs, "text", "doc_id"))
    t10, n10 = timed(classifier_score(docs10, "text", "doc_id"))
    print(json.dumps({"probe": "classifier_gate", "t_1x": t1, "t_10x": t10,
                      "docs_1x": n1, "docs_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- unigram perplexity scoring: 10× docs ------------------------------
    # (TF shuffle + vocab join + per-doc agg — all hash-partitioned and
    # map-side-combined, so growth must be ~linear; output exactly 10×)
    from pyspark_dist_explore_spark.operators.textstats import unigram_logprob_scores

    t1, n1 = timed(unigram_logprob_scores(docs, "text", "doc_id"))
    t10, n10 = timed(unigram_logprob_scores(docs10, "text", "doc_id"))
    print(json.dumps({"probe": "unigram_ppl", "t_1x": t1, "t_10x": t10,
                      "docs_1x": n1, "docs_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- containment pairs: 10× docs, token-disjoint copies ----------------
    # (pairs flow ONLY through shared-fingerprint buckets + the max_df
    # boilerplate drop, so pair output must scale ~10× and time ~linearly)
    from pyspark_dist_explore_spark.operators.dedup import containment_pairs

    t1, n1 = timed(
        containment_pairs(docs, "text", "doc_id", threshold=0.5, max_df=100)
    )
    t10, n10 = timed(
        containment_pairs(docs10, "text", "doc_id", threshold=0.5, max_df=100)
    )
    print(json.dumps({"probe": "containment_pairs", "t_1x": t1, "t_10x": t10,
                      "pairs_1x": n1, "pairs_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- semantic decontamination: 10× training vectors, FIXED eval -------
    # (the realistic shape again: the benchmark side is constant while
    # training data grows; the probe is a broadcast-matrix mapInPandas
    # scan, so time must be ~linear-in-scan and the flag count over the
    # original vectors invariant)
    from pyspark_dist_explore_spark.operators.decontam import (
        semantic_contaminated_ids,
    )

    emb_sd = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dim_sd = len(emb_sd.first().embedding)
    ev_sd = emb_sd.where(F.col("vec_id") % 10 == 0)
    tr1 = emb_sd.where(F.col("vec_id") % 10 != 0)
    tr10 = reduce(
        DataFrame.unionAll,
        [tr1]
        + [
            tr1.select(
                (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"),
                F.concat(
                    F.slice("embedding", i + 1, dim_sd - i), F.slice("embedding", 1, i)
                ).alias("embedding"),
            )
            for i in range(1, 10)
        ],
    )

    def run_semdecontam(d: DataFrame) -> tuple[float, int]:
        return timed(
            semantic_contaminated_ids(
                d, ev_sd, threshold=0.35, id_col="vec_id", eval_id_col="vec_id"
            )
        )

    t1, n1 = run_semdecontam(tr1)
    t10, n10 = run_semdecontam(tr10)
    print(json.dumps({"probe": "semantic_decontam", "t_1x": t1, "t_10x": t10,
                      "flagged_1x": n1, "flagged_10x": n10,
                      "ratio": round(t10 / t1, 2)}))

    # -- semantic dedup: 10× vectors with planted twins -------------------
    # (X22: capped KMeans fit + within-cell blocked matmul + lazy cluster
    # resolve.  Construction: rotated distractor copies (non-verbatim,
    # mutually dissimilar) + ONE ~0.999-cosine twin per vector at ids
    # +10M.  At threshold 0.95 random pairs never match, so survivors
    # must equal ~the pre-twin count at BOTH scales (twin collapse is
    # exact; the few extras are twins split across a cell boundary — the
    # paper's documented approximation) and wall must stay bounded by
    # the fit cap + n_blocks² tiling)
    from pyspark_dist_explore_spark.operators.similarity import semantic_dedup

    def with_twins(d: DataFrame) -> DataFrame:
        # deterministic ~±1e-3 per-coordinate perturbation (hash-derived)
        twin = d.select(
            (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                + (F.pmod(F.xxhash64(F.col("vec_id"), i), F.lit(2001)) - F.lit(1000))
                / F.lit(1_000_000.0),
            ).alias("embedding"),
        )
        return d.unionAll(twin)

    def run_semdedup(d: DataFrame) -> tuple[float, int]:
        t0 = time.perf_counter()
        n = (
            semantic_dedup(d, threshold=0.95, n_centroids=16, n_blocks=4)
            .where(F.col("is_survivor") == 1)
            .count()
        )
        return round(time.perf_counter() - t0, 3), n

    emb1 = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    dim0 = len(emb1.first().embedding)
    emb10r = reduce(
        DataFrame.unionAll,
        [
            emb1.select(
                (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"),
                F.concat(
                    F.slice("embedding", i + 1, dim0 - i), F.slice("embedding", 1, i)
                ).alias("embedding"),
            )
            for i in range(10)
        ],
    )
    base1, base10 = emb1.count(), emb10r.count()
    t1, n1 = run_semdedup(with_twins(emb1))
    t10, n10 = run_semdedup(with_twins(emb10r))
    print(json.dumps({"probe": "semantic_dedup_twins", "t_1x": t1, "t_10x": t10,
                      "survivors_1x": n1, "survivors_10x": n10,
                      "base_1x": base1, "base_10x": base10,
                      "ratio": round(t10 / t1, 2)}))

    # -- skewed-cell pair stage: one cell = 50% of vectors ----------------
    # (the max_cell_rows guard's companion measurement: the block tiling
    # bounds each matmul's MEMORY under skew, and this probe records the
    # WALL cost of a 50%-collapsed cell vs a balanced 16-cell split at
    # the same N.  Expected ~4× work: balanced does 16·(N/16)²/2 ≈ N²/32
    # dots, skewed (N/2)²/2 + 15·(N/30)²/2 ≈ N²/8.  The guard turns the
    # silent version of this cliff into a loud error at scale.)
    from pyspark_dist_explore_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    def run_pairs(d: DataFrame, part_expr) -> tuple[float, int]:
        t0 = time.perf_counter()
        n = cosine_neardup_pairs(
            d.withColumn("cell", part_expr),
            threshold=0.95,
            n_blocks=4,
            partition_col="cell",
        ).count()
        return round(time.perf_counter() - t0, 3), n

    balanced = F.pmod(F.col("vec_id"), F.lit(16))
    skewed = F.when(F.pmod(F.col("vec_id"), F.lit(2)) == 0, F.lit(0)).otherwise(
        F.pmod(F.col("vec_id"), F.lit(16))
    )
    tb, nb = run_pairs(with_twins(emb10r), balanced)
    ts, ns = run_pairs(with_twins(emb10r), skewed)
    print(json.dumps({"probe": "skewed_cell_pairs", "t_balanced": tb,
                      "t_skewed_50pct": ts, "pairs_balanced": nb,
                      "pairs_skewed": ns, "ratio": round(ts / tb, 2)}))

    # -- int8-quantized top-k scan: 10× vectors, recall vs exact -----------
    # (the memory lever: the scan side is packed bytes, 1 B/dim; the probe
    # records the byte shrink alongside time AND recall@5 so the 4× memory
    # claim carries its quality cost.  Per-copy coordinate rotation keeps
    # copies from being verbatim — same trick as the IVF/LSH probes.)
    from pyspark_dist_explore_spark.operators.similarity import (
        dimension_minmax,
        exact_topk,
        quantize_embeddings,
        topk_quantized,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    dim = len(emb.first().embedding)
    emb10 = reduce(
        DataFrame.unionAll,
        [
            emb.select(
                (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"),
                F.concat(
                    F.slice("embedding", i + 1, dim - i), F.slice("embedding", 1, i)
                ).alias("embedding"),
            )
            for i in range(10)
        ],
    )
    queries = emb.orderBy("vec_id").limit(20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def recall_quant(vectors: DataFrame) -> tuple[float, int, float]:
        mm = dimension_minmax(vectors)
        q = quantize_embeddings(vectors, mm)
        t, _ = timed(topk_quantized(q, mm, queries, k=5))
        got = {
            (r.query_id, r.vec_id)
            for r in topk_quantized(q, mm, queries, k=5).collect()
        }
        truth = {(r.query_id, r.vec_id) for r in exact_topk(vectors, queries, k=5).collect()}
        return t, len(got), round(len(got & truth) / max(len(truth), 1), 3)

    t1, n1, r1 = recall_quant(emb)
    t10, n10, r10 = recall_quant(emb10)
    packed_bytes = dim  # 1 byte/dim vs 4 (float32) / 8 (double)
    print(json.dumps({"probe": "topk_quantized", "t_1x": t1, "t_10x": t10,
                      "rows_1x": n1, "rows_10x": n10,
                      "recall_1x": r1, "recall_10x": r10,
                      "bytes_per_vec_packed": packed_bytes,
                      "bytes_per_vec_f32": 4 * dim,
                      "ratio": round(t10 / t1, 2)}))

    # -- bigram-LM perplexity: 10× docs, disjoint token spaces -------------
    # (the lag-window pair build shares the (doc_id, idx) shuffle shape
    # with winnowing; the LM joins are vocab-keyed — the 10× corpus has
    # a 10× vocab by construction, so ~linear is the pass bar)
    from pyspark_dist_explore_spark.operators.textstats import bigram_logprob_scores

    t1, n1 = timed(bigram_logprob_scores(docs, "text", "doc_id"))
    t10, n10 = timed(bigram_logprob_scores(docs10, "text", "doc_id"))
    print(json.dumps({"probe": "bigram_ppl", "t_1x": t1, "t_10x": t10,
                      "rows_1x": n1, "rows_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- intra-doc line dedup: 10× docs ------------------------------------
    # (per-doc keys only — a per-doc shuffle+sort, must be ~linear)
    from pyspark_dist_explore_spark.operators.textstats import dedup_lines_within_doc

    t1, n1 = timed(dedup_lines_within_doc(docs, "text", "doc_id", sep=" "))
    t10, n10 = timed(dedup_lines_within_doc(docs10, "text", "doc_id", sep=" "))
    print(json.dumps({"probe": "dedup_lines_within_doc", "t_1x": t1, "t_10x": t10,
                      "rows_1x": n1, "rows_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- unicode normalization: 10× docs -----------------------------------
    # (pure row-local Arrow batch work — must be ~linear, no shuffle)
    t1, n1 = timed(dedup.normalize_unicode(docs, "text", "doc_id"))
    t10, n10 = timed(dedup.normalize_unicode(docs10, "text", "doc_id"))
    print(json.dumps({"probe": "normalize_unicode", "t_1x": t1, "t_10x": t10,
                      "rows_1x": n1, "rows_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- DSIR importance scores: 10× raw corpus, FIXED target --------------
    # (the realistic shape: the target/quality sample is constant while
    # the raw crawl grows; count tables are ≤B rows at any scale, the
    # scoring stream is one gram scan + broadcast joins + per-doc
    # partials — wall must be ~linear, score rows exactly 10×)
    from pyspark_dist_explore_spark.operators.dsir import dsir_scores, dsir_topk

    ds_tgt = docs.where(F.col("doc_id") % 10 == 0)

    def run_dsir(d: DataFrame) -> tuple[float, int]:
        return timed(
            dsir_topk(dsir_scores(d, "text", "doc_id", target=ds_tgt), 500)
        )

    t1, n1 = run_dsir(docs)
    t10, n10 = run_dsir(docs10)
    print(json.dumps({"probe": "dsir_topk", "t_1x": t1, "t_10x": t10,
                      "kept_1x": n1, "kept_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- rp_topk: 10× vectors (sign-flip-rotated id-remapped copies),
    # FIXED queries — the coarse pass is the only corpus-wide scoring
    # and runs on out_dim-dim sketches, so wall must be ~linear and the
    # output exactly k·|queries| at any scale
    from pyspark_dist_explore_spark.operators.similarity import rp_topk

    emb_rp = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    rp_copies = []
    for i in range(10):
        s = 1.0 if i % 2 == 0 else -1.0
        rp_copies.append(
            emb_rp.select(
                (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"),
                F.transform("embedding", lambda x: x * F.lit(s)).alias("embedding"),
            )
        )
    emb_rp10 = reduce(DataFrame.unionAll, rp_copies)
    qs_rp = emb_rp.where("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    t1, n1 = timed(rp_topk(emb_rp, qs_rp, k=5, out_dim=16, overfetch=4))
    t10, n10 = timed(rp_topk(emb_rp10, qs_rp, k=5, out_dim=16, overfetch=4))
    print(json.dumps({"probe": "rp_topk", "t_1x": t1, "t_10x": t10,
                      "rows_1x": n1, "rows_10x": n10, "ratio": round(t10 / t1, 2)}))

    # -- equi-depth histogram: 10× rows, output stays `buckets` rows --------
    from pyspark_dist_explore_spark.operators.histogram import (
        compute_equidepth_histogram,
    )

    li_ed = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li_ed10 = reduce(
        DataFrame.unionAll,
        [
            li_ed.select(
                (F.col("l_orderkey") + F.lit(i * 100_000_000)).alias("l_orderkey"),
                "l_extendedprice",
            )
            for i in range(10)
        ],
    )
    t1, n1 = timed(
        compute_equidepth_histogram([("p", li_ed, "l_extendedprice")], buckets=16)
    )
    t10, n10 = timed(
        compute_equidepth_histogram([("p", li_ed10, "l_extendedprice")], buckets=16)
    )
    print(json.dumps({"probe": "equidepth_hist", "t_1x": t1, "t_10x": t10,
                      "buckets_1x": n1, "buckets_10x": n10,
                      "ratio": round(t10 / t1, 2)}))

    # -- 100× composed probe (opt-in: SPARK_GRAFT_PROBE_100X=1) ------------
    # curate_documents → shuffle_shards end-to-end at 1×/10×/100× of the
    # sf0.1 documents corpus (500k docs at 100×) — turns the 10× linearity
    # claim into a two-decade curve for the full training-dump path.
    if os.environ.get("SPARK_GRAFT_PROBE_100X") == "1":
        from pyspark_dist_explore_spark.operators.sampling import shuffle_shards

        def copies(n: int) -> DataFrame:
            return reduce(
                DataFrame.unionAll,
                [
                    docs.select(
                        (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                        F.concat(
                            F.lit(f"x{i} "),
                            F.regexp_replace(F.col("text"), " ", f" x{i}"),
                        ).alias("text"),
                    )
                    for i in range(n)
                ],
            )

        def run_e2e(d: DataFrame) -> tuple[float, int]:
            t0 = time.perf_counter()
            kept = curate_documents(
                d, "text", "doc_id", min_quality=0.0,
                pair_fn=minhash_pair_fn(threshold=0.8),
            )
            n = shuffle_shards(kept, "doc_id", shards=32, salt="probe").count()
            return round(time.perf_counter() - t0, 3), n

        t1, n1 = run_e2e(docs)
        t10, n10 = run_e2e(copies(10))
        t100, n100 = run_e2e(copies(100))
        print(json.dumps({
            "probe": "curate_shards_100x", "t_1x": t1, "t_10x": t10,
            "t_100x": t100, "rows_1x": n1, "rows_10x": n10, "rows_100x": n100,
            "ratio_10x": round(t10 / t1, 2), "ratio_100x": round(t100 / t1, 2),
            "decade2_ratio": round(t100 / t10, 2),
        }))

        # -- simhash 100×: the banded-hamming join's second decade ---------
        # (token-disjoint copies → chunk buckets stay disjoint; pair output
        # must be exactly linear and wall sub-linear-per-row, proving the
        # 4×15-bit chunk banding caps bucket width at 500k docs too)
        def run_simhash(d: DataFrame) -> tuple[float, int]:
            return timed(dedup.simhash_neardup(d, "text", "doc_id", max_hamming=3))

        t1, n1 = run_simhash(docs)
        t10, n10 = run_simhash(copies(10))
        t100, n100 = run_simhash(copies(100))
        print(json.dumps({
            "probe": "simhash_100x", "t_1x": t1, "t_10x": t10, "t_100x": t100,
            "pairs_1x": n1, "pairs_10x": n10, "pairs_100x": n100,
            "ratio_10x": round(t10 / t1, 2), "ratio_100x": round(t100 / t1, 2),
            "decade2_ratio": round(t100 / t10, 2),
        }))

        # -- containment 100×: the shared-fingerprint bucket join's second
        # decade (max_df boilerplate drop is the quadratic-term cap; pair
        # output must stay exactly linear across both decades)
        from pyspark_dist_explore_spark.operators.dedup import containment_pairs

        def run_containment(d: DataFrame) -> tuple[float, int]:
            return timed(
                containment_pairs(d, "text", "doc_id", threshold=0.5, max_df=100)
            )

        t1, n1 = run_containment(docs)
        t10, n10 = run_containment(copies(10))
        t100, n100 = run_containment(copies(100))
        print(json.dumps({
            "probe": "containment_100x", "t_1x": t1, "t_10x": t10, "t_100x": t100,
            "pairs_1x": n1, "pairs_10x": n10, "pairs_100x": n100,
            "ratio_10x": round(t10 / t1, 2), "ratio_100x": round(t100 / t1, 2),
            "decade2_ratio": round(t100 / t10, 2),
        }))

        # -- winnowing 100×: the lead-window gram build + sliding window-min
        # through the second decade; fingerprint output must stay exactly
        # linear (per-doc windows, no cross-doc term anywhere)
        def run_winnow(d: DataFrame) -> tuple[float, int]:
            return timed(winnowing_fingerprints(d, "text", "doc_id"))

        t1, n1 = run_winnow(docs)
        t10, n10 = run_winnow(copies(10))
        t100, n100 = run_winnow(copies(100))
        print(json.dumps({
            "probe": "winnowing_100x", "t_1x": t1, "t_10x": t10, "t_100x": t100,
            "fps_1x": n1, "fps_10x": n10, "fps_100x": n100,
            "ratio_10x": round(t10 / t1, 2), "ratio_100x": round(t100 / t1, 2),
            "decade2_ratio": round(t100 / t10, 2),
        }))

        # -- line-level dedup 100×: the cross-doc boilerplate drop's second
        # decade (copy-prefixed tokens keep each copy's boilerplate lines
        # disjoint, so the ≥min_df line sets — and therefore the rebuild
        # work — scale exactly with the corpus)
        def lined_copies(n: int) -> DataFrame:
            return reduce(
                DataFrame.unionAll,
                [
                    lined.select(
                        (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                        F.concat(
                            F.lit(f"x{i} "),
                            F.regexp_replace(F.col("text"), " ", f" x{i}"),
                        ).alias("text"),
                        "source",
                    )
                    for i in range(n)
                ],
            )

        def run_lines(d: DataFrame) -> tuple[float, int]:
            return timed(drop_repeated_lines(d, "text", "doc_id", min_df=5))

        t1, n1 = run_lines(lined)
        t10, n10 = run_lines(lined_copies(10))
        t100, n100 = run_lines(lined_copies(100))
        print(json.dumps({
            "probe": "line_dedup_100x", "t_1x": t1, "t_10x": t10, "t_100x": t100,
            "docs_1x": n1, "docs_10x": n10, "docs_100x": n100,
            "ratio_10x": round(t10 / t1, 2), "ratio_100x": round(t100 / t1, 2),
            "decade2_ratio": round(t100 / t10, 2),
        }))

        # -- span dedup 100×: the k-gram duplicate aggregate + coverage
        # explode + rebuild through the second decade (token-disjoint
        # copies keep duplicated spans within-copy, so the dup-gram table
        # and the rebuild both grow exactly with the corpus)
        from pyspark_dist_explore_spark.operators.textstats import (
            drop_duplicate_spans as _dds,
        )

        def run_spans(d: DataFrame) -> tuple[float, int]:
            return timed(_dds(d, "text", "doc_id", k=8))

        t1, n1 = run_spans(docs)
        t10, n10 = run_spans(copies(10))
        t100, n100 = run_spans(copies(100))
        print(json.dumps({
            "probe": "span_dedup_100x", "t_1x": t1, "t_10x": t10, "t_100x": t100,
            "docs_1x": n1, "docs_10x": n10, "docs_100x": n100,
            "ratio_10x": round(t10 / t1, 2), "ratio_100x": round(t100 / t1, 2),
            "decade2_ratio": round(t100 / t10, 2),
        }))

    # -- round 9: C4 cleaning + curation funnel at 10×/100× ----------------
    # both are row-local projections (+ one group-sized aggregate for the
    # funnel): wall must track the scan, output rows track docs (C4) /
    # stay |groups|-sized (funnel) — any super-linearity would mean the
    # flags stopped riding the scan
    if True:
        from pyspark_dist_explore_spark.operators import textstats as _ts
        from pyspark_dist_explore_spark.pipeline import curation_funnel as _cf

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text", "source"
        )

        def c4_copies(n: int) -> DataFrame:
            return reduce(
                DataFrame.unionAll,
                [
                    docs.select(
                        (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                        F.concat(
                            F.lit(f"x{i} "),
                            F.regexp_replace(F.col("text"), " ", f" x{i}"),
                        ).alias("text"),
                        F.col("source"),
                    )
                    for i in range(n)
                ],
            )

        def run_c4(d: DataFrame) -> tuple[float, int]:
            inj = d.select(
                "doc_id", _ts.inject_punctuation(F.col("text")).alias("text")
            )
            return timed(_ts.c4_clean(inj, "text", "doc_id", min_sentences=30))

        t1, n1 = run_c4(docs)
        t10, n10 = run_c4(c4_copies(10))
        t100, n100 = run_c4(c4_copies(100))
        print(json.dumps({
            "probe": "c4_clean_100x", "t_1x": t1, "t_10x": t10, "t_100x": t100,
            "docs_1x": n1, "docs_10x": n10, "docs_100x": n100,
            "ratio_10x": round(t10 / t1, 2), "ratio_100x": round(t100 / t1, 2),
            "decade2_ratio": round(t100 / t10, 2),
        }))

        def run_funnel(d: DataFrame) -> tuple[float, int]:
            raw = d.select(F.col("source").alias("grp"), F.col("text").alias("__raw"))
            gq = _ts.with_gopher_gate(
                raw, F.col("__raw"), min_words=20, min_stop_words=1
            )
            sig = _ts.with_classifier_gate(gq, F.col("__raw"), hash_fn="md5")
            flags = sig.select(
                "grp",
                (F.col("gq_n_words") >= 40).cast("int").alias("len_keep"),
                "gq_keep",
                "cls_keep",
            )
            return timed(
                _cf(flags, ["len_keep", "gq_keep", "cls_keep"], group_col="grp")
            )

        t1, n1 = run_funnel(docs)
        t10, n10 = run_funnel(c4_copies(10))
        t100, n100 = run_funnel(c4_copies(100))
        print(json.dumps({
            "probe": "curation_funnel_100x", "t_1x": t1, "t_10x": t10,
            "t_100x": t100, "groups_1x": n1, "groups_10x": n10,
            "groups_100x": n100,
            "ratio_10x": round(t10 / t1, 2), "ratio_100x": round(t100 / t1, 2),
            "decade2_ratio": round(t100 / t10, 2),
        }))

    # -- round 10 (opt-in SPARK_GRAFT_PROBE_CURATE_FULL=1): EVERYTHING-ON
    # curate_documents at 1×/10×/100× — the r4 probe measured the minimal
    # config (quality + dedup + clusters); the stage set has since
    # tripled, so this runs the full chain: host cap, NFC, C4 rewrite,
    # cross-doc + intra-doc line dedup, span dedup, scrub, classifier +
    # Gopher gates, repetition + bigram-ppl filters, n-gram decontam
    # (eval fixed at copy-0 slice), minhash pair near-dup, DSIR selection
    # (n_keep scales with the corpus so 100× exercises the distributed
    # topk_by_rank path), temperature flattening, and a token budget.
    # Copies are token-prefixed (disjoint fingerprint/shingle/gram
    # spaces) with injected punctuation so the C4 line rules do real
    # mixed work; hosts are per-copy so the cap does not erase growth.
    # The MINIMAL config runs at the same scales for stage-set
    # attribution (full − minimal = the cost of everything added since
    # r4).
    if os.environ.get("SPARK_GRAFT_PROBE_CURATE_FULL") == "1":
        from pyspark_dist_explore_spark.operators import textstats as _ts
        from pyspark_dist_explore_spark.pipeline import (
            curate_documents,
            minhash_pair_fn,
        )

        raw = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", _ts.inject_punctuation(F.col("text")).alias("text")
        )

        def full_copies(n: int) -> DataFrame:
            return reduce(
                DataFrame.unionAll,
                [
                    raw.select(
                        (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                        F.concat(
                            F.lit(f"x{i} "),
                            F.regexp_replace(F.col("text"), " ", f" x{i}"),
                        ).alias("text"),
                        F.concat(
                            F.lit(f"c{i}/h"), (F.col("doc_id") % 20).cast("string")
                        ).alias("host"),
                    )
                    for i in range(n)
                ],
            )

        def run_full(d: DataFrame, ncopies: int) -> tuple[float, int]:
            eval_df = d.where(
                (F.col("doc_id") < 1_000_000) & (F.col("doc_id") % 25 == 0)
            ).select("doc_id", "text")
            dsir_tgt = d.where(
                (F.col("doc_id") < 1_000_000) & (F.col("doc_id") % 10 == 3)
            ).select("doc_id", "text")
            t0 = time.perf_counter()
            n = curate_documents(
                d, "text", "doc_id",
                min_quality=0.0,
                host_cap=("host", 200),
                unicode_form="NFC",
                c4_rules={"min_sentences": 1},
                drop_boilerplate_lines=2,
                dedup_doc_lines=True,
                span_dedup_k=8,
                scrub=True,
                # token-prefixed copies carry no literal stop words, so
                # the stop rule is disabled; every other Gopher rule and
                # the md5 classifier gate run live
                gopher_rules={"min_words": 10, "min_stop_words": 0},
                classifier_threshold=(0, 1),
                max_dup_token_frac=0.99,
                max_ppl=1e18,
                ppl_model="bigram",
                decontaminate_against=eval_df,
                decontam_ngram=13,
                pair_fn=minhash_pair_fn(threshold=0.8),
                dsir_target=dsir_tgt,
                dsir_n_keep=2_000 * ncopies,
                temperature_coeff=1e6,
                token_budget=10**12,
            ).count()
            return round(time.perf_counter() - t0, 3), n

        def run_minimal(d: DataFrame) -> tuple[float, int]:
            t0 = time.perf_counter()
            n = curate_documents(
                d, "text", "doc_id", min_quality=0.0,
                pair_fn=minhash_pair_fn(threshold=0.8),
            ).count()
            return round(time.perf_counter() - t0, 3), n

        for name, runner in (("curate_full", run_full), ("curate_minimal",
                                                         run_minimal)):
            args1 = (full_copies(1), 1) if name == "curate_full" else (full_copies(1),)
            args10 = (full_copies(10), 10) if name == "curate_full" else (full_copies(10),)
            args100 = (full_copies(100), 100) if name == "curate_full" else (full_copies(100),)
            t1, n1 = runner(*args1)
            t10, n10 = runner(*args10)
            t100, n100 = runner(*args100)
            print(json.dumps({
                "probe": f"{name}_100x", "t_1x": t1, "t_10x": t10,
                "t_100x": t100, "kept_1x": n1, "kept_10x": n10,
                "kept_100x": n100,
                "ratio_10x": round(t10 / t1, 2),
                "ratio_100x": round(t100 / t1, 2),
                "decade2_ratio": round(t100 / t10, 2),
            }))

    spark.stop()


if __name__ == "__main__":
    main()
