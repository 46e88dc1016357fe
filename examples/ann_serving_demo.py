#!/usr/bin/env python
"""End-to-end ANN serving demo over the sf0.001 testdata — the
index/serve split made concrete:

  index time   build ONCE: OPQ rotation → coarse quantizer → PQ
               codebooks → per-vector codes → cent_id-partitioned
               inverted lists, landed as parquet + verified sidecar
               (``write_pq_index``)
  serve time   load the artifacts (``load_pq_index``) and answer
               top-k queries WITHOUT ever reading the corpus vectors
               (``ivf_pq_topk(vectors=None)``)
  stream time  filter a micro-batch of new embeddings for semantic
               novelty against the same landed index
               (``stream_pq_neardup_filter``, ``scan='batch'``)

Run: python examples/ann_serving_demo.py

Every stage is the same code shape a 1000-executor cluster runs: the
index build is two corpus passes (one Arrow encode, one Arrow coarse
assign), serving reads n_probe inverted-list directories plus m-byte
code rows, and the streaming filter's per-batch cost is bounded by
probe width, not corpus size (PROBE_R14.json).
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
    ivf_pq_residual_topk,
    ivf_pq_topk,
    load_pq_index,
    rotate_embeddings,
    stream_pq_neardup_filter,
    write_pq_index,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("ann-serving-demo")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="ann_demo_")

    # The 1e-6 grid discretization makes every distance/score an exact
    # integer — rankings are engine- and partitioning-portable.
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * F.lit(1e6)),
        ).alias("embedding"),
    )

    # ---- index time (once per corpus build) ----
    idx = f"{work}/pq_index"
    write_pq_index(
        emb, idx, m=8, dim=64, n_codes=16, n_centroids=8, n_assign=2,
        rotation_salt="demo",
    )
    print(f"landed index at {idx}:", sorted(os.listdir(idx)))

    # ---- serve time (any later session; corpus vectors never read) ----
    cents, cb, codes, assign, params = load_pq_index(
        spark, idx, expect=dict(m=8, dim=64, rotation_salt="demo")
    )
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    q_rot = rotate_embeddings(queries, dim=64, salt=params["rotation_salt"])
    hits = ivf_pq_topk(
        None, q_rot, k=3, m=8, dim=64, n_probe=3, n_assign=2,
        centroids=cents, codebooks=cb, codes=codes, assignments=assign,
    )
    print("top-3 per query from the landed index:")
    hits.orderBy("query_id", "rank").show(9, truncate=False)

    # ---- residual index (X69): the true IVFADC — PQ quantizes x − c,
    # the enc doubles as code table AND inverted lists; same serve-time
    # contract, recall lifts when coarse cells outnumber codes ----
    ridx = f"{work}/pq_index_residual"
    write_pq_index(
        emb, ridx, m=8, dim=64, n_codes=16, n_centroids=8, residual=True
    )
    rcents, rcb, renc, _ra, _rp = load_pq_index(
        spark, ridx, expect=dict(residual=True)
    )
    rhits = ivf_pq_residual_topk(
        None, queries, k=3, m=8, dim=64, n_probe=3,
        centroids=rcents, codebooks=rcb, enc=renc,
    )
    print("top-3 per query from the landed RESIDUAL index:")
    rhits.orderBy("query_id", "rank").show(9, truncate=False)

    # ---- stream time (each new crawl micro-batch) ----
    arrivals_dir = f"{work}/arrivals"
    # half re-embedded copies of indexed vectors (dups), half novel
    emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    ).unionByName(
        emb.where(F.col("vec_id").between(200, 204)).select(
            (F.col("vec_id") + 2_000_000).alias("vec_id"),
            F.reverse("embedding").alias("embedding"),
        )
    ).coalesce(1).write.mode("overwrite").parquet(arrivals_dir)

    kept = []

    def sink(batch, batch_id):
        kept.extend(r["vec_id"] for r in batch.collect())

    q = (
        stream_pq_neardup_filter(
            spark.readStream.schema("vec_id bigint, embedding array<double>")
            .parquet(arrivals_dir),
            cb, codes, sink,
            m=8, dim=64,
            # exact re-arrivals score ~|v|^2 on the grid; novel reversed
            # vectors land far below — a corpus-scale threshold would be
            # calibrated from the score distribution of known dups
            threshold=5e11,
            centroids=cents, assignments=assign, n_probe=3,
            rotation_salt=params["rotation_salt"],
        )
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    print(f"streaming novelty filter kept {sorted(kept)}")
    spark.stop()


if __name__ == "__main__":
    main()
