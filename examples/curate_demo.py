#!/usr/bin/env python
"""End-to-end curation demo over the sf0.001 testdata: JSONL ingest →
quality gates (heuristic + Gopher rules + hashed-gram classifier) →
scrub → exact + near-dup dedup → DSIR target-match selection → split →
training shards → shard-integrity verify → tokenizer induction
(BPE vs unigram-LM fertility A/B) → next-crawl snapshot diff.
Run: python examples/curate_demo.py

Every stage here is ONE lazy DataFrame plan until the final writes —
the same code shape a 1000-executor cluster runs; only the session
conf changes (see pyspark_dist_explore_spark.session.recommended_conf).
"""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, REPO)
# Python workers import the package too; they inherit PYTHONPATH from the
# JVM, which takes the driver's environment when the session starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import SparkSession, functions as F

from pyspark_dist_explore_spark import (
    corpus_overlap,
    corpus_overlap_matrix,
    corpus_profile,
    curate_documents,
    read_jsonl,
    write_jsonl,
    write_training_shards,
)


def main() -> None:
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("curate-demo")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="curate_demo_")

    # 1. a corpus arrives as JSONL (the interchange format) ---------------
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    write_jsonl(docs, f"{work}/raw_corpus", partitions=1)
    corpus = read_jsonl(spark, f"{work}/raw_corpus", schema=docs.schema)
    print("ingested:", corpus.count(), "docs")

    # 2. first-look EDA card ----------------------------------------------
    corpus_profile(corpus, "text", "doc_id", group_col="source").show(6)

    # 2b. gate funnel BEFORE committing to thresholds: which gate is
    # responsible for which loss, per source (X38) ------------------------
    from pyspark_dist_explore_spark import curation_funnel
    from pyspark_dist_explore_spark.operators.textstats import (
        with_classifier_gate,
        with_gopher_gate,
    )

    raw = corpus.select(F.col("source").alias("grp"), F.col("text").alias("__raw"))
    gq = with_gopher_gate(raw, F.col("__raw"), min_words=20, min_stop_words=1)
    sig = with_classifier_gate(gq, F.col("__raw"))
    flags = sig.select(
        "grp",
        (F.col("gq_n_words") >= 40).cast("int").alias("len_keep"),
        "gq_keep",
        "cls_keep",
    )
    curation_funnel(flags, ["len_keep", "gq_keep", "cls_keep"], group_col="grp").show(6)

    # 2c. cross-source contamination audit BEFORE fixing mixture weights:
    # which source pairs share exact content, and how many docs a
    # cross-source dedup would drop from each side (X43 — every pair in
    # ONE corpus scan) -----------------------------------------------------
    corpus_overlap_matrix(corpus).orderBy(
        F.col("n_fp_common").desc(), "src_a", "src_b"
    ).show(6)

    # 3. the composed keep-list pipeline ----------------------------------
    target = corpus.where("lang = 'en'").select("doc_id", "text")
    kept = curate_documents(
        corpus,
        "text",
        "doc_id",
        min_quality=0.85,
        # (c4_rules= is the place a REAL crawl adds the line-hygiene
        # stage; this synthetic corpus carries no punctuation, so the
        # C4 line-retention rule would empty every page — see
        # tests/test_pipeline.py::test_curate_c4_rules_rewrite_and_collapse
        # for the realistic-corpus demonstration)
        gopher_rules={"min_words": 20, "min_stop_words": 1},
        classifier_threshold=(0, 1),
        scrub=True,
        dsir_target=target,
        dsir_n_keep=150,
        split_fractions={"train": 0.9, "val": 0.05, "test": 0.05},
    )
    kept.groupBy("split").count().show()

    # 4. audit: how much of the kept set overlaps the raw corpus (all of
    # it, by construction — the census proves the plumbing) ---------------
    kept_text = kept.join(corpus.select("doc_id", "text"), "doc_id")
    corpus_overlap(kept_text, corpus).show(truncate=False)

    # 5. materialize the RECIPE: up-sample the (small, high-quality)
    # English slice to ~2.3x its tokens via integer epochs (X44) — the
    # stream a training run actually reads ---------------------------------
    from pyspark_dist_explore_spark import materialize_mixture

    kept_text = kept.join(corpus.select("doc_id", "text"), "doc_id")
    n_tok = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    with_tok = kept_text.where("split = 'train'").withColumn(
        "n_tok", n_tok.cast("bigint")
    )
    totals = {
        r["lang_pred"]: int(r["t"])
        for r in with_tok.groupBy("lang_pred").agg(F.sum("n_tok").alias("t")).collect()  # bounded-collect: |languages|-row totals (mixture-target inputs)
    }
    targets = {lang: 2 * t + t // 3 for lang, t in totals.items()}
    stream = materialize_mixture(with_tok, "lang_pred", "n_tok", "doc_id", targets)
    stream.groupBy("lang_pred", "epoch").count().orderBy("lang_pred", "epoch").show(9)

    # 6. land deterministic training shards — the epoch stream repeats
    # doc_id across epochs, and shuffle_shards' key must be UNIQUE per
    # row (duplicate keys tie on hash AND tiebreaker → partition-order-
    # dependent pos), so shard on the composite (doc_id, epoch) key ----
    write_training_shards(
        stream.select(
            F.concat_ws(":", "doc_id", "epoch").alias("row_key"),
            "doc_id",
            "epoch",
            "text",
        ),
        "row_key",
        f"{work}/shards",
        shards=4,
        salt="epoch0",
    )
    back = spark.read.parquet(f"{work}/shards")
    print("landed:", back.count(), "training rows in", f"{work}/shards")

    # 7. integrity: verify the landed dump against the writer's manifest
    # (the pre-training check a 100 TB consumer runs) ----------------------
    from pyspark_dist_explore_spark import verify_training_shards

    verify_training_shards(spark, f"{work}/shards").show()

    # 6b. the OTHER two batch-prep shapes (round 14b) ----------------------
    # X72: length-bucketed batches — one sequence per slot, each batch
    # pads only to its own max (vs packing's concatenation); the pad
    # column is the wasted-token bill, ~28x below arrival-order batches
    from pyspark_dist_explore_spark import bucket_batches

    bat = bucket_batches(
        with_tok, "doc_id", batch_size=16, token_count_col="n_tok"
    )
    bat.groupBy().agg(
        F.countDistinct("batch_id").alias("batches"),
        F.sum("pad").alias("padding_tokens_wasted"),
    ).show()
    # X70: weighted reservoir draw — 5 docs per language ∝ token count,
    # deterministic (same salt = same sample on any engine/partitioning)
    from pyspark_dist_explore_spark import weighted_reservoir_sample

    wrs = weighted_reservoir_sample(
        with_tok.withColumn("w", F.col("n_tok") + 1),
        5, weight_col="w", group_col="lang_pred", id_col="doc_id",
        salt="audit0",
    )
    print("weighted audit sample (5 per language, ∝ tokens):",
          sorted(r["doc_id"] for r in wrs.collect()))

    # 6c. X71: the SAME curated stream as WebDataset tar shards — the
    # sequential-IO layout multimodal loaders consume; byte-deterministic
    # (same salt ⇒ identical tar md5s), verified like the parquet dump
    from pyspark_dist_explore_spark import (
        verify_tar_shards,
        write_tar_shards,
    )

    write_tar_shards(
        stream.select(
            F.concat_ws(":", "doc_id", "epoch").alias("row_key"), "text"
        ),
        f"{work}/wds",
        shards=4,
        members={"txt": "text"},
        key_col="row_key",
        salt="epoch0",
    )
    verify_tar_shards(spark, f"{work}/wds").show()

    # 7b. the ORDER a mixture implies (X53): stride-scheduled
    # proportional interleave of the epoch stream by SOURCE (this
    # synthetic corpus lang-ids everything 'en', so source is the
    # interesting group) — every prefix of the emitted sequence holds
    # each source's share within ~1 document of its weight,
    # deterministically (no RNG, no global sort: the position is a
    # closed form per row) ------------------------------------------------
    from pyspark_dist_explore_spark import proportional_interleave

    il = proportional_interleave(
        stream.join(corpus.select("doc_id", "source"), "doc_id").select(
            F.concat_ws(":", "doc_id", "epoch").alias("row_key"), "source"
        ),
        "source",
        "row_key",
        weights={f"src{i}": 1 + (i % 3) for i in range(20)},
    )
    print("first 8 interleaved rows (per-source weights 1..3):")
    il.orderBy("pos").select("pos", "source", "rank").show(8)

    # 8. tokenizer induction on the CURATED corpus (X40 + X48): learn a
    # BPE merge table (batched symbol-disjoint rounds) and a unigram-LM
    # vocab from the same word-frequency statistics, then A/B fertility —
    # the sizing signal a vocab decision is graded on -----------------------
    from pyspark_dist_explore_spark import (
        bpe_encode,
        bpe_learn,
        unigram_encode,
        unigram_lm_learn,
    )

    kept_docs = kept_text.select("doc_id", "text")
    merges = bpe_learn(kept_docs, "text", k=16, batch_merges=4)
    vocab = unigram_lm_learn(
        kept_docs, "text", vocab_size=64, max_piece_len=4, seed_size=128
    )
    fert = (
        bpe_encode(kept_docs, "text", "doc_id", merges)
        .selectExpr("doc_id", "n_tokens", "n_subwords AS bpe_subwords")
        .join(
            unigram_encode(kept_docs, "text", "doc_id", vocab).selectExpr(
                "doc_id", "n_subwords AS unigram_subwords"
            ),
            "doc_id",
        )
        .groupBy()
        .agg(
            F.sum("n_tokens").alias("words"),
            F.round(F.sum("bpe_subwords") / F.sum("n_tokens"), 3).alias(
                "bpe_fertility"
            ),
            F.round(F.sum("unigram_subwords") / F.sum("n_tokens"), 3).alias(
                "unigram_fertility"
            ),
        )
    )
    fert.show()

    # 8b. batch shaping for the trainer (X62 + X65 + X63): FFD-pack the
    # curated docs into 512-token context windows, materialize the
    # span map a dataloader turns into document-boundary attention /
    # loss masks, and draw deterministic contrastive negatives with the
    # same-source false-negative guard ------------------------------------
    from pyspark_dist_explore_spark import (
        pack_sequences,
        pack_span_map,
        packing_efficiency,
        sample_negatives,
    )

    packed = pack_sequences(
        kept_docs, "doc_id", text_col="text",
        max_tokens=512, buckets=64, mode="ffd",
    )
    packing_efficiency(packed, 512).show()
    pack_span_map(packed, order="ffd").orderBy("pack_id", "start").show(6)
    sample_negatives(
        kept_docs.join(corpus.select("doc_id", "source"), "doc_id"),
        "doc_id", k=2, group_col="source",
    ).show(6)

    # 9. next month's crawl arrives: snapshot-diff it against the landed
    # dump BEFORE re-running the pipeline (X49).  Identical content-
    # fingerprinting manifests would skip the scan entirely
    # (corpus_diff_dirs); here the in-memory form shows the per-source
    # audit card over a simulated re-crawl --------------------------------
    from pyspark_dist_explore_spark import corpus_diff

    recrawl = corpus.where(F.col("doc_id") % 11 != 0).unionByName(
        corpus.where(F.col("doc_id") % 9 == 4).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
    )
    corpus_diff(corpus, recrawl, group_col="source").orderBy("group").show(6)

    spark.stop()


if __name__ == "__main__":
    main()
